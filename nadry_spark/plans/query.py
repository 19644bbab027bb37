"""Query front-end — the SearchController/SearchWrapper serving path.

Reproduces api/SearchController.java:53-111 + SearchWrapper:
1. quoted-phrase detection: the FIRST quoted phrase switches to phrase
   mode and REPLACES the query (:63-70, F16); single-token phrases
   delegate to regular search, RE-tokenizing the stemmed token
   (SearchWrapper.java:282-284 quirk);
2. per-query result cache keyed by the exact search string (:35-46,
   76-97 — quirk preserved: the cache stores one page's enrichment and
   ignores page/limit drift on hit);
3. disjunctive rank (exact reference formulas) or BM25 top-k;
4. pagination AFTER full ranking (SearchWrapper.java:649-666) — but
   computed distributed: totalResults via count(), only the requested
   page's rows cross the driver boundary (offset/limit), never the
   full ranked candidate set;
5. late enrichment of the current page only: title/snippet via the
   F15 pandas UDF + content join (J4, :500-557).

The result envelope mirrors the reference JSON
{success, data, totalPages, currentPage, totalResults, tokens,
searchTimeSec} (:102-111); each data row carries the QueryDocument
reflection-dump fields (SearchWrapper.toMap, :476-491 over
nadry/ranker/QueryDocument.java:5-18): url, termFrequency,
popularityScore, relevenceScore (sic), totalWord, score, title,
description, DOC_TFIDF, QUERY_TFIDF — plus id/doc_id.
"""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from nadry_spark.functions.snippets import snippet_udf
from nadry_spark.localrows import local_rows_df
from nadry_spark.functions.tokenizer import tokenize
from nadry_spark.operators.phrase import (
    disjunctive_ranked,
    extract_quoted_phrases,
    phrase_ranked,
)


class QueryEngine:
    def __init__(
        self,
        index,
        scoring: str = "exact",
        count_cap: int | None = None,
        cache_cap: int = 1024,
        did_you_mean: bool = False,
    ):
        """index: a SegmentIndex or a MultiSegmentIndex (the
        incremental-serving family) — both expose the common serving
        API (candidates_for / doc_meta_df / content_for) so every mode
        (exact, bm25, phrase) works over either, with tombstoned
        re-crawls excluded in the multi case.

        scoring: 'exact' (reference-identical TF-IDF blend) or
        'bm25' (block-max WAND fast path).

        count_cap: optional count-up-to bound on totalResults — the
        envelope counts at most count_cap+1 candidates (limit n+1 +
        count, so a stopword-scale query never pays a full candidate
        count for a totalPages nobody paginates to); when the cap is
        hit the envelope carries totalResultsIsLowerBound=True.
        Default None keeps the reference-exact full count.

        did_you_mean: opt-in extension BEYOND the reference
        envelope — when a query returns zero results, fuzzy-match each
        token against the index term dictionary (SymSpell
        deletion-neighbourhood join, operators/fuzzy.py) and attach a
        `didYouMean` corrected-query string when any token has a
        vocabulary term within edit distance 2 (ranked by distance,
        then df, then term). The vocabulary's deletion variants are
        built ONCE per engine and cached, so each miss pays only the
        tiny query-side expansion + a hash join. Off by default to
        keep the envelope reference-exact.

        cache_cap: max cached query envelopes. The reference caches
        every distinct query forever (SearchController.java:35-46) —
        unbounded in a long-lived server. We keep the quirk SEMANTICS
        (exact-key hit, page/limit drift ignored) but bound residency:
        least-recently-USED entries evict beyond cache_cap."""
        from collections import OrderedDict

        self.index = index
        self.scoring = scoring
        self.count_cap = count_cap
        self.cache_cap = int(cache_cap)
        self.did_you_mean = bool(did_you_mean)
        self._vocab_variants = None  # lazily-built deletion index
        self._cache: "OrderedDict[str, dict]" = OrderedDict()

    def _cache_put(self, key: str, envelope: dict) -> None:
        self._cache[key] = envelope
        self._cache.move_to_end(key)
        while len(self._cache) > self.cache_cap:
            self._cache.popitem(last=False)

    def _rank_disjunctive(self, tokens: list[str], need: int):
        if self.scoring == "bm25":
            # tokens are already index terms — do NOT re-tokenize (stems
            # that equal stopwords would vanish, specials would shred)
            if hasattr(self.index, "segments"):  # MultiSegmentIndex
                from nadry_spark.operators.bm25 import bm25_topk_multi

                return bm25_topk_multi(
                    self.index, "", k=need, mode="taat", tokens=tokens
                )
            from nadry_spark.operators.bm25 import bm25_topk

            return bm25_topk(self.index, "", k=need, mode="taat", tokens=tokens)
        return disjunctive_ranked(self.index, tokens, with_metadata=True)

    def search(self, query: str, page: int = 0, page_size: int = 10) -> dict:
        """Full serving path; returns the reference's result envelope."""
        t0 = time.time()
        if page < 0:
            page = 0
        if page_size <= 0:
            page_size = 10

        # SearchController.java:63-76 quirks: the FIRST quoted phrase
        # REPLACES the query AND becomes the cache key (so '"a b"' and
        # 'x "a b" y' share a cache entry); the envelope's `tokens` are
        # tokenize(ORIGINAL full query) (:100) while ranking + snippet
        # enrichment use the phrase tokens (SearchWrapper.java:388)
        phrases = extract_quoted_phrases(query)
        search_query = phrases[0] if phrases else query
        cached = self._cache.get(search_query)
        if cached is not None:
            self._cache.move_to_end(search_query)  # LRU touch
            return cached  # quirk: ignores page/limit drift, like the ref

        need = (page + 1) * page_size
        # bm25 fast path ranks via per-shard top-k + global limit(need)
        # (single AND multi segment) — its frame never holds more than
        # `need` rows, so a full frame means "at least need candidates",
        # not an exact count; the envelope flags that explicitly
        topk_bound: int | None = None
        meta_tokens = tokenize(query)
        if phrases:
            tokens = tokenize(phrases[0])
            if len(tokens) == 1:
                # reference delegates to searchWithMetadata(tokens[0]),
                # re-tokenizing the stem (SearchWrapper.java:282-284)
                tokens = tokenize(tokens[0])
                ranked_df = self._rank_disjunctive(tokens, need) if tokens else None
                if self.scoring == "bm25":
                    topk_bound = need
            elif tokens:
                ranked_df = phrase_ranked(self.index, tokens, with_metadata=True)
            else:
                ranked_df = None
        else:
            tokens = meta_tokens
            ranked_df = self._rank_disjunctive(tokens, need) if tokens else None
            if self.scoring == "bm25":
                topk_bound = need
        if not tokens or ranked_df is None:
            envelope = self._envelope([], 0, page, page_size, meta_tokens, t0)
            self._attach_did_you_mean(envelope, tokens)
            self._cache_put(search_query, envelope)
            return envelope

        # totalResults + one page. When the frame is KNOWN bounded —
        # the bm25 fast path tops out at `need` rows, and count-up-to
        # mode bounds interest at count_cap+1 — ONE collect of the
        # bounded frame replaces persist + count job + page job (3
        # Spark jobs -> 1; the count/page split only pays off when the
        # frame is unbounded). totalResults/page semantics are
        # identical: both formulations see the same deterministic
        # (score desc, tie-break) order, and total stays
        # min(candidates, bounds) either way. Driver residency is
        # O(need) / O(count_cap) rows — the bound the caller opted
        # into, not the corpus.
        if topk_bound is not None:
            rows = ranked_df.collect()  # <= need rows by construction
            total = len(rows)
            if self.count_cap is not None:
                total = min(total, self.count_cap + 1)
            page_rows = rows[page * page_size : (page + 1) * page_size]
        elif self.count_cap is not None:
            cap1 = self.count_cap + 1
            n_fetch = max(cap1, (page + 1) * page_size)
            rows = ranked_df.limit(n_fetch).collect()
            total = min(len(rows), cap1)
            page_rows = rows[page * page_size : (page + 1) * page_size]
        else:
            # reference-exact mode needs the TRUE candidate count: keep
            # the two-job shape off one cached materialization — at no
            # point does more than page_size rows reach the driver
            ranked_df = ranked_df.persist()
            try:
                total = ranked_df.count()
                page_rows = (
                    ranked_df.offset(page * page_size).limit(page_size).collect()
                )
            finally:
                ranked_df.unpersist()

        enriched = self._enrich(page_rows, tokens)
        envelope = self._envelope(
            enriched, total, page, page_size, meta_tokens, t0, topk_bound=topk_bound
        )
        self._attach_did_you_mean(envelope, tokens)
        self._cache_put(search_query, envelope)
        return envelope

    def _attach_did_you_mean(self, envelope: dict, tokens) -> None:
        """Zero-result queries get a `didYouMean` corrected-query
        suggestion (opt-in; see __init__). Mutates the envelope."""
        if (
            not self.did_you_mean
            or envelope.get("totalResults", 0) != 0
            or not tokens
        ):
            return
        from pyspark.sql import Window

        from nadry_spark.operators.fuzzy import deletion_variants

        spark = self.index.spark
        if self._vocab_variants is None:
            if hasattr(self.index, "segments"):  # MultiSegmentIndex
                vocab = None
                for s in self.index.segments:
                    part = s.terms.select("term", "df")
                    vocab = part if vocab is None else vocab.unionByName(part)
                vocab = vocab.groupBy("term").agg(F.sum("df").alias("df"))
            else:
                vocab = self.index.terms.select("term", "df")
            self._vocab_variants = deletion_variants(
                vocab, "term", out="_var"
            ).persist()
        qdf = local_rows_df(spark, "q string", [(t,) for t in set(tokens)])
        qv = deletion_variants(qdf, "q", out="_var")
        cands = (
            qv.join(self._vocab_variants, "_var")
            .drop("_var")
            .distinct()
            .withColumn("dist", F.levenshtein(F.col("q"), F.col("term")))
            .where((F.col("dist") <= 2) & (F.col("dist") > 0))
        )
        w = Window.partitionBy("q").orderBy(
            F.asc("dist"), F.desc("df"), F.asc("term")
        )
        best = {
            r["q"]: r["term"]
            for r in cands.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .collect()
        }
        corrected = [best.get(t, t) for t in tokens]
        if corrected != list(tokens):
            envelope["didYouMean"] = " ".join(corrected)

    def _enrich(self, page_rows, tokens):
        """J4 + F15: join content for the k paged docs only, snippet UDF."""
        if not page_rows:
            return []
        idx = self.index
        spark = idx.spark
        by_doc_id = {r["doc_id"]: self._result_row(r) for r in page_rows}
        ids_df = local_rows_df(spark, "doc_id string", [(d,) for d in by_doc_id])
        detail = (
            idx.content_for(F.broadcast(ids_df))
            .select(
                "doc_id", "title",
                snippet_udf(tokens)(F.col("content")).alias("description"),
            )
            .collect()
        )
        details = {r["doc_id"]: r for r in detail}
        out = []
        for r in page_rows:
            row = by_doc_id[r["doc_id"]]
            d = details.get(r["doc_id"])
            row["title"] = d["title"] if d is not None else "No Title Available"
            row["description"] = (
                d["description"] if d is not None else "Details not available."
            )
            out.append(row)
        return out

    @staticmethod
    def _result_row(r) -> dict:
        """One result row: QueryDocument reflection-dump keys
        (api/SearchWrapper.java:476-491) next to the engine-native ones."""
        row = r.asDict(recursive=True)
        row["id"] = row.get("doc_id")
        if "relevance" in row:
            row["relevenceScore"] = row["relevance"]  # sic, QueryDocument.java:9
        if "popularity" in row:
            row["popularityScore"] = row["popularity"]
        if "term_frequency" in row:
            row["termFrequency"] = row.pop("term_frequency")
        if "total_words" in row:
            row["totalWord"] = row.pop("total_words")
        if "doc_tfidf" in row:
            row["DOC_TFIDF"] = row.pop("doc_tfidf")
        if "query_tfidf" in row:
            row["QUERY_TFIDF"] = row.pop("query_tfidf")
        return row

    def _envelope(self, data, total, page, page_size, tokens, t0, topk_bound=None):
        import math

        out = {
            "success": True,
            "data": data,
            "totalResults": total,
            "totalPages": math.ceil(total / page_size) if page_size else 0,
            "currentPage": page,
            "tokens": list(tokens) if tokens else [],
            "searchTimeSec": round(time.time() - t0, 4),
        }
        # the two bound sources COMPOSE (a capped count over an
        # already top-k-bounded bm25 frame is a lower bound if EITHER
        # bound was hit): count-up-to mode (totalResults == count_cap+1
        # means "more than count_cap") and the bm25 fast path's frame
        # filling at `need` rows both mean the true candidate count is
        # >= totalResults and totalPages is a floor
        topk_hit = topk_bound is not None and total >= topk_bound
        if self.count_cap is not None:
            out["totalResultsIsLowerBound"] = total > self.count_cap or topk_hit
        elif topk_hit:
            out["totalResultsIsLowerBound"] = True
        return out
