"""The benchmark's two workloads, ``serve`` and ``ingest``.

Both drive the engine from outside, through the public functions of
``sources.segments``, ``operators.bm25``, ``operators.phrase`` (via
``plans.query``), ``plans.query`` and ``streaming.ingest``, from one
driver process with one closed-loop client: every call waits for its
reply, so nothing runs concurrently. Each workload returns its
end-to-end metrics and, in a traced run, its per-layer metrics, as
plain numbers keyed by the names in ``END_TO_END`` and ``PER_LAYER``.
"""

from __future__ import annotations

import json
import math
import os
import random
import statistics
import time

import pyarrow.parquet as pq

import corpus
import oracle
from oracle import close, dir_bytes, same_ranking

from nadry_spark.functions import htmlextract, tokenizer
from nadry_spark.operators import bm25, codecs
from nadry_spark.plans import query
from nadry_spark.sources import segments
from nadry_spark.streaming import ingest

# Every workload reports every one of these (the result line carries
# them all); see README.md for what each means on each workload.
END_TO_END = {
    "setup_s": "s",
    "build_docs_per_s": "docs/s",
    "index_bytes_per_doc": "B/doc",
    "visible_s": "s",
    "search_p50_ms": "ms",
    "search_p90_ms": "ms",
}

# A layer a workload leaves idle reads 0 there.
PER_LAYER = {
    "session.start_s": "s",
    "functions.extract_docs_per_s": "docs/s",
    "functions.tokenize_tokens_per_s": "tokens/s",
    "segments.build.extract_number_s": "s",
    "segments.build.stage0_writes_s": "s",
    "segments.build.positions_s": "s",
    "segments.build.postings_s": "s",
    "segments.build.terms_dict_s": "s",
    "codecs.postings_bytes_per_doc": "B/doc",
    "codecs.positions_bytes_per_doc": "B/doc",
    "codecs.decode_postings_per_s": "postings/s",
    "segments.warm_s": "s",
    "segments.term_stats_ms": "ms",
    "bm25.topk_ms": "ms",
    "bm25.spark_jobs_per_search": "jobs",
    "bm25.spark_tasks_per_search": "tasks",
    "bm25.bmw_skip_rate": "ratio",
    "bm25.bmw_blocks": "blocks",
    "bm25.bmw_decoded_blocks": "blocks",
    "bm25.queryset_qps": "queries/s",
    "phrase.ranked_ms": "ms",
    "phrase.search_ms": "ms",
    "query.search_self_ms": "ms",
    "query.cache_hit_rate": "ratio",
    "ingest.stream_s": "s",
    "ingest.finalize_s": "s",
    "ingest.warm_s": "s",
    "ingest.compact_s": "s",
    "ingest.bytes_written_per_doc": "B/doc",
    "ingest.segments": "segments",
    "ingest.multi_topk_ms": "ms",
    "ingest.spark_jobs_per_search": "jobs",
    "trace.overhead_ms": "ms",
    "failed_frac": "ratio",
}

# Sizes are fixed, so every commit does the same work whatever its
# speed; ``--seconds`` only bounds a measured phase (ABORT_FACTOR times
# it) so a hung engine still ends the run. README.md records the run
# times these sizes were chosen from.
SERVE_PAGES = 1000         # corpus the serve index is built from
BUILD_REPEATS = 3          # timed builds after the untimed first one; metrics take the median
BUILDS_AFTER = 1           # of those: built after the search stream
N_REQUESTS = 400           # generated requests the stream and queryset draw from
SERVE_MIX = {"terms": 8, "phrase": 2, "stopword": 1, "unknown": 1}  # requests per run
WARMUP_SEARCHES = 1        # untimed plain-term and phrase searches, each, before the serve stream
SERVE_PAGE1 = 1            # of the plain-term requests: asking for page=1
QUERYSET_SIZE = 60         # queries in one bm25_queryset_topk job
QUERYSET_REPEATS = 3       # traced run: timed queryset jobs, after one untimed
BMW_QUERIES = 6            # traced run: queries given to bmw_block_stats
SEED_BATCH = 10            # ingest set-up: pages of the first family segment
INGEST_BATCH = 20          # pages landing per measured ingest cycle
CYCLES = 1                 # measured ingest cycles
RECRAWL_SHARE = 0.2        # of each later batch: re-crawled urls
FAMILY_WARMUP = 1          # untimed family searches after each measured cycle
CYCLE_SEARCHES = 5         # timed two-head-term family searches after each measured cycle
FINAL_SEARCHES = 2         # traced run: family searches after compaction
PROBE_PAGES = 100          # fixed html sample for the functions probe
PROBE_REQUESTS = 40        # fixed request sample whose terms the decode probe reads
DECODE_REPEATS = 5
ABORT_FACTOR = 3
K = 10


def median(xs):
    return statistics.median(xs) if xs else 0.0


def p90(xs):
    """90th percentile, interpolated between the two nearest samples."""
    return statistics.quantiles(xs, n=10, method="inclusive")[-1] if len(xs) >= 2 else median(xs)


def walls(done) -> str:
    """Search walls in seconds, in the order sent, for the run summary."""
    return " ".join(f"{op['qkind'][0]}{op['wall_s']:.2f}" for op, _ in done)


class Run:
    """State of one benchmark run: session, tracer, inputs, outcome."""

    def __init__(self, spark, tracer, seed: int, seconds: float, work: str, session_s: float):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.session_s = session_s
        self.problems: list[str] = []

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def fail(self, op: dict, why: str) -> None:
        if op.get("ok", True):
            op["ok"] = False
            self.problems.append(f"{op['kind']} {op.get('query', '')!r}: {why}")

    def outcome(self) -> tuple[int, int]:
        """(attempted, failed) over every recorded operation."""
        ops = self.tracer.ops
        return len(ops), sum(1 for op in ops if not op.get("ok", True))


# ---- shared pieces ---------------------------------------------------


def search_stream(run: Run, engine, reqs, phase: str, until: float | None = None,
                  limit: int | None = None):
    """Closed loop of ``engine.search`` calls until the deadline or
    ``limit`` calls. In a traced run every other call is left
    untraced, so the two halves give the tracing overhead."""
    done = []
    for q, page in reqs:
        if (until is not None and time.perf_counter() >= until) or (limit is not None and len(done) >= limit):
            break
        with run.tracer.operation("search", traced=len(done) % 2 == 0, query=q, page=page,
                                  qkind=corpus.query_kind(q), phase=phase) as op:
            try:
                env = engine.search(q, page=page)
            except Exception as e:  # one failed request must not end the stream
                env = None
                run.fail(op, f"raised {type(e).__name__}: {e}")
        done.append((op, env))
    return done


def check_searches(run: Run, ref: oracle.Reference, done, key) -> None:
    """Compare every served page with the reference; ``key`` maps a
    result row to the reference's doc key. The query cache hands back
    the very envelope it stored, so a repeated object is a hit."""
    seen: set[int] = set()
    for op, env in done:
        op["cache_hit"] = env is not None and id(env) in seen
        seen.add(id(env))
        if env is None:
            continue
        if not env.get("success"):
            run.fail(op, "success=false")
            continue
        page, data, tokens = op["page"], env["data"], env["tokens"]
        if op["qkind"] in ("stopword", "unknown"):
            if env["totalResults"] != 0 or data:
                run.fail(op, "expected no results")
            continue
        if op["qkind"] == "phrase" and len(tokens) >= 2:
            match = ref.phrase_docs(tokens)
            if env["totalResults"] != len(match) or not {key(r) for r in data} <= match:
                run.fail(op, f"phrase total {env['totalResults']} != {len(match)} or foreign doc")
            continue
        if op["qkind"] == "phrase":  # one-token phrase: served as a term query on its re-tokenized stem
            tokens = tokenizer.tokenize(tokens[0]) if tokens else []
        ranked = ref.bm25(tokens)
        got = [(r["score"], key(r)) for r in data]
        if not same_ranking(got, ranked[page * K:(page + 1) * K], {d: s for s, d in ranked}):
            run.fail(op, "top-10 differs from the numpy BM25")
        elif env["totalResults"] != min(len(ranked), (page + 1) * K):
            run.fail(op, f"totalResults {env['totalResults']} != {min(len(ranked), (page + 1) * K)}")


def check_queryset(run: Run, ref: oracle.Reference, qset: dict, rows, key, op) -> None:
    got: dict[int, list] = {}
    for r in rows:
        got.setdefault(r["query_id"], []).append((r["score"], key(r)))
    for qid, q in qset.items():
        ranked = ref.bm25(tokenizer.tokenize(q))
        if not same_ranking(got.get(qid, []), ranked[:K], {d: s for s, d in ranked}):
            run.fail(op, f"queryset query {q!r} differs from the numpy BM25")


def serve_stream(seed: int, reqs, vocab: list[str], texts: list[str]):
    """The serve run's requests: the first SERVE_MIX[kind] requests of
    each kind from ``reqs``, in a seeded order, so every run has the
    same mix; the first SERVE_PAGE1 plain-term ones ask for page 1, the
    rest for page 0. Phrases are two head terms found next to each
    other in some page's text, so each one does the same kind of
    positional work. Also returns WARMUP_SEARCHES requests of each of
    the plain-term and phrase kinds outside the stream, used to warm
    the engine: the first search of a kind runs slower than the rest."""
    picked = {kind: [(q, 0) for q, _ in reqs if corpus.query_kind(q) == kind][:n + WARMUP_SEARCHES]
              for kind, n in SERVE_MIX.items() if kind != "phrase"}
    picked["phrase"] = [(q, 0) for q in corpus.head_phrases(seed, vocab, texts, SERVE_MIX["phrase"] + WARMUP_SEARCHES)]
    picked["terms"][:SERVE_PAGE1] = [(q, 1) for q, _ in picked["terms"][:SERVE_PAGE1]]
    warmup = []
    for kind in ("terms", "phrase"):
        warmup += picked[kind][-WARMUP_SEARCHES:]
    for kind in picked:
        del picked[kind][SERVE_MIX[kind]:]
    stream = [r for rs in picked.values() for r in rs]
    random.Random(f"order-{seed}").shuffle(stream)
    return stream, warmup


def timed_queryset(run: Run, job):
    """Run ``job`` (a queryset scoring call) once untimed, as the
    session's first run plans and compiles it, then QUERYSET_REPEATS
    times timed. Returns the last rows, the walls and the last op."""
    job()
    walls = []
    for _ in range(QUERYSET_REPEATS):
        with run.tracer.operation("queryset") as op:
            rows = job()
        walls.append(op["wall_s"])
    return rows, walls, op


def queryset_of(reqs) -> dict[int, str]:
    """The first QUERYSET_SIZE plain-term queries of ``reqs``."""
    ids = [i for i, (q, _) in enumerate(reqs) if corpus.query_kind(q) == "terms"]
    return {i: reqs[i][0] for i in ids[:QUERYSET_SIZE]}


def functions_probe(pages: list[dict]) -> dict:
    """Driver-side extract and tokenize rates over a fixed html sample."""
    sample = pages[:PROBE_PAGES]
    t0 = time.perf_counter()
    docs = [htmlextract.process_document(p["html"].decode("utf-8"), p["url"]) for p in sample]
    extract_s = time.perf_counter() - t0
    texts = [x for d in docs if d for x in (d["title"], d["description"], d["content"])]
    for t in texts:  # fill the tokenizer's memo, as a long-lived worker has
        tokenizer.tokenize(t)
    t0 = time.perf_counter()
    n_tokens = sum(len(tokenizer.tokenize(t)) for t in texts)
    tokenize_s = time.perf_counter() - t0
    return {
        "functions.extract_docs_per_s": len(sample) / extract_s,
        "functions.tokenize_tokens_per_s": n_tokens / tokenize_s,
    }


def codecs_probe(seg_dir: str, n_docs: int, reqs) -> dict:
    """Segment bytes per doc, and the decode rate over the posting
    blocks of a fixed request sample's terms, read with pyarrow."""
    with open(os.path.join(seg_dir, "meta.json")) as f:
        codec = json.load(f).get("codec", "varint")
    terms = sorted({t for q, _ in reqs[:PROBE_REQUESTS] if corpus.query_kind(q) == "terms"
                    for t in tokenizer.tokenize(q)})
    table = pq.read_table(os.path.join(seg_dir, "postings"), columns=["docs_bin", "tfs_bin", "dls_bin"],
                          filters=[("term", "in", terms)])
    blocks = list(zip(*(table[c].to_pylist() for c in ("docs_bin", "tfs_bin", "dls_bin"))))
    n = 0
    t0 = time.perf_counter()
    for _ in range(DECODE_REPEATS):
        for d, tf, dl in blocks:
            n += len(codecs.decode_posting_block(d, tf, dl, codec)[0])
    decode_s = time.perf_counter() - t0
    return {
        "codecs.postings_bytes_per_doc": dir_bytes(os.path.join(seg_dir, "postings")) / n_docs,
        "codecs.positions_bytes_per_doc": dir_bytes(os.path.join(seg_dir, "positions")) / n_docs,
        "codecs.decode_postings_per_s": n / decode_s if decode_s else 0.0,
    }


def search_layers(run: Run, done) -> dict:
    """Per-layer figures of the searches in ``done``. Job and task
    counts are medians over the traced plain-term searches; the tracing
    overhead compares traced with untraced plain-term searches of the
    same phase (same index state)."""
    tr = run.tracer
    tr.resolve_jobs()
    traced = [op for op, _ in done if op["traced"]]
    terms_t = [op for op in traced if op["qkind"] == "terms"]
    hits = [op["cache_hit"] for op, _ in done]
    gaps = []
    for phase in sorted({op["phase"] for op, _ in done}):
        walls = {flag: [op["wall_s"] for op, _ in done
                        if op["phase"] == phase and op["qkind"] == "terms" and op["traced"] == flag]
                 for flag in (True, False)}
        if walls[True] and walls[False]:
            gaps.append(median(walls[True]) - median(walls[False]))
    return {
        "segments.term_stats_ms": 1e3 * median(tr.durations("segments.term_stats", "search")),
        "phrase.ranked_ms": 1e3 * median(tr.durations("phrase.ranked", "search")),
        "phrase.search_ms": 1e3 * median([op["wall_s"] for op, _ in done if op["qkind"] == "phrase"]),
        "query.search_self_ms": 1e3 * median([tr.self_time(op) for op in traced]),
        "query.cache_hit_rate": sum(hits) / len(hits) if hits else 0.0,
        "trace.overhead_ms": 1e3 * median(gaps),
        "jobs": median([op["jobs"] for op in terms_t]),
        "tasks": median([op["tasks"] for op in terms_t]),
    }


def install_spans(tr) -> None:
    """Wrap the engine's public entry points so their calls become spans."""
    tr.wrap(segments, "build_segments", "segments.build")
    tr.wrap(segments.SegmentIndex, "warm", "segments.warm")
    tr.wrap(segments.SegmentIndex, "term_stats", "segments.term_stats")
    tr.wrap(segments.MultiSegmentIndex, "term_stats", "segments.term_stats")
    tr.wrap(bm25, "bm25_topk", "bm25.topk")
    tr.wrap(bm25, "bm25_topk_multi", "bm25.topk_multi")
    tr.wrap(bm25, "bm25_queryset_topk", "bm25.queryset")
    tr.wrap(bm25, "bm25_queryset_topk_multi", "bm25.queryset")
    tr.wrap(query, "phrase_ranked", "phrase.ranked")
    for name in ("stream_ingest", "finalize_incremental", "compact_serving", "open_serving_index"):
        tr.wrap(ingest, name, f"ingest.{name}")


# ---- serve -----------------------------------------------------------


def serve(run: Run):
    """Time builds of one corpus around a closed loop of a fixed set of
    distinct searches on one of them; a traced run then also scores the
    first QUERYSET_SIZE plain-term queries (the stream's among them) as
    one queryset job."""
    spark, tr = run.spark, run.tracer
    t0 = time.perf_counter()
    vocab = corpus.vocabulary(run.seed)
    pages = [corpus.build_page(i, SERVE_PAGES, vocab, run.seed) for i in range(SERVE_PAGES)]
    corpus.write_pages(run.path("pages.parquet"), pages)
    texts = [p["text"] for p in pages]
    reqs = corpus.queries(run.seed, vocab, N_REQUESTS)
    stream, warmup_reqs = serve_stream(run.seed, reqs, vocab, texts)
    gen_s = time.perf_counter() - t0

    # The session's first build pays the Python workers' and the JVM's
    # one-time start-up (on a 4-core VM a cold 1000-page build took
    # 15-24 s, the next ones 7-10 s), and that start-up is the noisiest
    # figure of a run. A first build of the same pages takes it in
    # set-up. The timed builds come after it; the last one before the
    # search stream is served, and BUILDS_AFTER more follow the stream,
    # so the build samples span the run, not one moment of a shared machine.
    t0 = time.perf_counter()
    segments.build_segments(spark, spark.read.parquet(run.path("pages.parquet")), run.path("seg-warmup"))
    warmup_build_s = time.perf_counter() - t0

    builds = []

    def build(i: int):
        seg, timings = run.path(f"seg{i}"), {}
        with tr.operation("build") as op:
            meta = segments.build_segments(spark, spark.read.parquet(run.path("pages.parquet")), seg,
                                           timings=timings)
        builds.append((op["wall_s"], timings))
        return seg, meta, op

    for i in range(BUILD_REPEATS - BUILDS_AFTER):
        seg_dir, meta, build_op = build(i)
    n_docs = int(meta["n_docs"])
    with tr.operation("warm") as warm_op:
        idx = segments.SegmentIndex(spark, seg_dir).warm()
    engine = query.QueryEngine(idx, scoring="bm25")
    t0 = time.perf_counter()
    for req in warmup_reqs:  # a session's first searches compile plans and warm the JIT
        engine.search(*req)
    warmup_search_s = time.perf_counter() - t0
    setup_s = run.session_s + gen_s + warmup_build_s + warmup_search_s

    done = search_stream(run, engine, stream, "stream", until=time.perf_counter() + ABORT_FACTOR * run.seconds)
    for i in range(BUILD_REPEATS - BUILDS_AFTER, BUILD_REPEATS):
        build(i)
    build_s = median([wall for wall, _ in builds])

    # ---- checks, outside the timed region ----
    if n_docs != len({p["url"] for p in pages}):
        run.fail(build_op, f"n_docs {n_docs} != distinct urls")
    sum_df = sum(pq.read_table(os.path.join(seg_dir, "terms"), columns=["df"])["df"].to_pylist())
    sum_post = sum(pq.read_table(os.path.join(seg_dir, "postings"), columns=["n_docs"])["n_docs"].to_pylist())
    if sum_df != sum_post:
        run.fail(build_op, f"sum(df) {sum_df} != sum(postings n_docs) {sum_post}")
    ref, doc_no_of = oracle.from_segment(seg_dir)
    if ref.n_docs != n_docs or not close(ref.avgdl, meta["avgdl"]):
        run.fail(build_op, "docs_tokens disagree with meta.json")
    check_searches(run, ref, done, lambda r: doc_no_of.get(r["doc_id"]))

    lat = [op["wall_s"] for op, _ in done if op["qkind"] == "terms"]
    e2e = {
        "setup_s": setup_s,
        "build_docs_per_s": n_docs / build_s,
        "index_bytes_per_doc": dir_bytes(seg_dir) / n_docs,
        "visible_s": build_s + warm_op["wall_s"],
        "search_p50_ms": 1e3 * median(lat),
        "search_p90_ms": 1e3 * p90([op["wall_s"] for op, _ in done]),
    }
    summary = (f"setup: session {run.session_s:.1f}s, inputs {gen_s:.1f}s, warm-up build {warmup_build_s:.1f}s, "
               f"warm-up searches {warmup_search_s:.1f}s; builds {' '.join(f'{w:.1f}s' for w, _ in builds)}, "
               f"warm {warm_op['wall_s']:.1f}s; searches (s): {walls(done)}")
    if not tr.enabled:
        return e2e, {}, summary

    # The queryset job runs in the traced run only: on a shared 4-core
    # machine its wall doubles whenever other tenants take the cores,
    # which no end-to-end bound can absorb (see README.md).
    qset = queryset_of(reqs)
    qset_rows, qset_s, qop = timed_queryset(run, lambda: bm25.bm25_queryset_topk(idx, qset, k=K).collect())
    check_queryset(run, ref, qset, qset_rows, lambda r: r["doc_no"], qop)
    sl = search_layers(run, done)
    n_blocks = n_decoded = 0
    for q in list(qset.values())[:BMW_QUERIES]:
        st = bm25.bmw_block_stats(idx, q, k=K)
        n_blocks += st["n_blocks"]
        n_decoded += st["n_decoded"]
    layers = {
        "session.start_s": run.session_s,
        **functions_probe(pages),
        **{f"segments.build.{k}_s": median([t[k] for _, t in builds]) for k in builds[0][1]},
        **codecs_probe(seg_dir, n_docs, reqs),
        "segments.warm_s": warm_op["wall_s"],
        **{k: v for k, v in sl.items() if k not in ("jobs", "tasks")},
        "bm25.topk_ms": 1e3 * median(tr.durations("bm25.topk", "search")),
        "bm25.spark_jobs_per_search": sl["jobs"],
        "bm25.spark_tasks_per_search": sl["tasks"],
        "bm25.bmw_skip_rate": 1 - n_decoded / n_blocks if n_blocks else 0.0,
        "bm25.bmw_blocks": n_blocks,
        "bm25.bmw_decoded_blocks": n_decoded,
        "bm25.queryset_qps": len(qset) / median(qset_s),
    }
    return e2e, layers, summary


# ---- ingest ----------------------------------------------------------


def ingest_batches(seed: int, vocab: list[str]):
    """Endless batches: the first all new pages, later ones 80% new
    urls and 20% re-crawls (same url, new content)."""
    rng = random.Random(f"recrawl-{seed}")
    next_id, cycle = 0, 0
    while True:
        size = INGEST_BATCH if cycle else SEED_BATCH
        n_re = int(size * RECRAWL_SHARE) if cycle else 0
        ids = rng.sample(range(next_id), n_re) + list(range(next_id, next_id + size - n_re))
        next_id += size - n_re
        # n_pages only spreads link targets; fixed, so batches never depend on run length
        yield [corpus.build_page(i, 10_000, vocab, seed, version=cycle) for i in ids]
        cycle += 1


class Corpus:
    """The latest version of every url ingested so far, and a numpy
    reference over it (pages extracted and tokenized on the driver)."""

    def __init__(self):
        self.latest: dict[str, dict] = {}
        self._tokens: dict[tuple, tuple | None] = {}

    def land(self, rows: list[dict]) -> None:
        self.latest.update({p["url"]: p for p in rows})

    def reference(self, k1: float, b: float) -> oracle.Reference:
        docs = []
        for p in self.latest.values():
            key = (p["url"], p["warc_ts"])
            if key not in self._tokens:
                self._tokens[key] = oracle.extract_tokens(p, htmlextract.process_document, tokenizer.tokenize)
            docs.append(self._tokens[key])
        return oracle.from_pages(docs, k1, b)


def ingest_cycle(run: Run, dirs: dict, rows: list[dict], n: int, reqs_iter, searches: int, until: float):
    """Land one batch, make it searchable, then search the family:
    FAMILY_WARMUP untimed searches, then ``searches`` timed ones."""
    spark, tr = run.spark, run.tracer
    corpus.write_pages(os.path.join(dirs["in"], f"batch_{n:05d}.parquet"), rows)
    rec = {"docs": len(rows)}
    with tr.operation("stream", batch=n) as op:
        sq = ingest.stream_ingest(spark, dirs["in"], dirs["out"], dirs["ck"])
        sq.awaitTermination()
        if sq.exception() is not None:
            run.fail(op, str(sq.exception()))
    rec["stream_s"] = op["wall_s"]
    with tr.operation("finalize", batch=n) as op:
        state = ingest.finalize_incremental(spark, dirs["out"], dirs["segs"])
    rec["finalize_s"] = op["wall_s"]
    spark.catalog.clearCache()  # the previous family handle is dropped
    with tr.operation("open_warm", batch=n) as op:
        family = ingest.open_serving_index(spark, dirs["segs"]).warm()
    rec["warm_op"] = op
    rec["warm_s"] = op["wall_s"]
    rec["segments"] = len(state["segments"])
    engine = query.QueryEngine(family, scoring="bm25")
    # the first search on a freshly opened family runs slower than the rest
    for _ in range(FAMILY_WARMUP if searches else 0):
        engine.search(*next(reqs_iter))
    rec["done"] = search_stream(run, engine, reqs_iter, f"cycle{n}", until=until, limit=searches)
    return family, rec


def check_family(run: Run, family, ref: oracle.Reference, rec: dict) -> None:
    """Live statistics and every search of one family state."""
    if family.meta["n_docs"] != ref.n_docs or not close(family.meta["avgdl"], ref.avgdl):
        run.fail(rec["warm_op"], f"live n_docs/avgdl {family.meta['n_docs']}/{family.meta['avgdl']}"
                                 f" != {ref.n_docs}/{ref.avgdl}")
    check_searches(run, ref, rec["done"], lambda r: r["doc_id"])


def ingest_workload(run: Run):
    """Grow a segment family by CYCLES batches, searching it after
    every batch; a traced run then scores a queryset over it, compacts
    it and searches once more."""
    spark, tr = run.spark, run.tracer
    dirs = {d: run.path(d) for d in ("in", "out", "ck", "segs")}
    os.makedirs(dirs["in"])
    t0 = time.perf_counter()
    vocab = corpus.vocabulary(run.seed)
    batches = ingest_batches(run.seed, vocab)
    first = next(batches)
    reqs = corpus.queries(run.seed, vocab, N_REQUESTS)
    # family searches are alike two-head-term queries (a phrase costs
    # three term queries on a family and would make the samples unlike)
    reqs_iter = iter(corpus.family_queries(
        run.seed, vocab, CYCLES * (FAMILY_WARMUP + CYCLE_SEARCHES) + FAMILY_WARMUP + FINAL_SEARCHES))
    qset = queryset_of(reqs)
    gen_s = time.perf_counter() - t0

    pages = Corpus()
    pages.land(first)
    t0 = time.perf_counter()
    # the first cycle pays the streaming path's one-time start-up
    family, rec = ingest_cycle(run, dirs, first, 0, reqs_iter, 0, until=math.inf)
    setup_s = run.session_s + gen_s + (time.perf_counter() - t0)
    states = [(family, rec, pages.reference(family.meta["k1"], family.meta["b"]))]

    cycles = []
    until = time.perf_counter() + ABORT_FACTOR * run.seconds
    for n in range(1, CYCLES + 1):
        rows = next(batches)
        family, rec = ingest_cycle(run, dirs, rows, n, reqs_iter, CYCLE_SEARCHES, until)
        cycles.append(rec)
        pages.land(rows)
        states.append((family, rec, pages.reference(family.meta["k1"], family.meta["b"])))
    written = dir_bytes(dirs["out"]) + dir_bytes(dirs["segs"])
    n_ingested = sum(c["docs"] for c in cycles) + len(first)
    live = int(family.meta["n_docs"])
    family_bytes = dir_bytes(dirs["segs"])

    # The queryset job, compaction and the searches after it run in the
    # traced run only: they add about 13 s, and a plain run has no room
    # for them (see README.md).
    if tr.enabled:
        qset_rows, qset_s, qop = timed_queryset(
            run, lambda: bm25.bm25_queryset_topk_multi(family, qset, k=K).collect())
        check_queryset(run, states[-1][2], qset, qset_rows, lambda r: r["doc_id"], qop)
        with tr.operation("compact") as compact_op:
            state = ingest.compact_serving(spark, dirs["out"], dirs["segs"])
        spark.catalog.clearCache()
        with tr.operation("open_warm") as warm_op:
            family = ingest.open_serving_index(spark, dirs["segs"]).warm()
        engine = query.QueryEngine(family, scoring="bm25")
        for _ in range(FAMILY_WARMUP):
            engine.search(*next(reqs_iter))
        after = search_stream(run, engine, reqs_iter, "compacted", until=until, limit=FINAL_SEARCHES)
        states.append((family, {"warm_op": warm_op, "done": after}, states[-1][2]))

    # ---- checks, outside the timed region: every family state must
    # rank exactly like a numpy BM25 over the latest version of its pages
    for fam, rec, r in states:
        check_family(run, fam, r, rec)

    lat = [op["wall_s"] for c in cycles for op, _ in c["done"]]
    e2e = {
        "setup_s": setup_s,
        "build_docs_per_s": sum(c["docs"] for c in cycles) / sum(c["stream_s"] + c["finalize_s"] for c in cycles),
        "index_bytes_per_doc": family_bytes / live,
        "visible_s": median([c["stream_s"] + c["finalize_s"] + c["warm_s"] for c in cycles]),
        "search_p50_ms": 1e3 * median(lat),
        "search_p90_ms": 1e3 * p90(lat),
    }
    summary = (f"{len(cycles)} cycles of {INGEST_BATCH} pages, {len(lat)} family searches; setup {setup_s:.1f}s (session {run.session_s:.1f}s, cycle 0 "
               f"stream {states[0][1]['stream_s']:.1f}s finalize {states[0][1]['finalize_s']:.1f}s "
               f"warm {states[0][1]['warm_s']:.1f}s); "
               + "; ".join(f"cycle stream {c['stream_s']:.1f}s finalize {c['finalize_s']:.1f}s "
                           f"warm {c['warm_s']:.1f}s, searches (s): {walls(c['done'])}" for c in cycles))
    if not tr.enabled:
        return e2e, {}, summary

    sl = search_layers(run, [x for _, rec, _ in states for x in rec["done"]])
    layers = {
        "session.start_s": run.session_s,
        **functions_probe(first),
        **codecs_probe(os.path.join(dirs["segs"], state["segments"][0]), live, reqs),
        "segments.warm_s": median(tr.durations("segments.warm")),
        **{k: v for k, v in sl.items() if k not in ("jobs", "tasks")},
        "bm25.queryset_qps": len(qset) / median(qset_s),
        "ingest.stream_s": median([c["stream_s"] for c in cycles]),
        "ingest.finalize_s": median([c["finalize_s"] for c in cycles]),
        "ingest.warm_s": median([c["warm_s"] for c in cycles]),
        "ingest.compact_s": compact_op["wall_s"],
        "ingest.bytes_written_per_doc": written / n_ingested,
        "ingest.segments": cycles[-1]["segments"],
        "ingest.multi_topk_ms": 1e3 * median(tr.durations("bm25.topk_multi", "search")),
        # the multi-segment family's searches, not the compacted one's
        "ingest.spark_jobs_per_search": median([op["jobs"] for c in cycles for op, _ in c["done"] if op["traced"]]),
    }
    return e2e, layers, summary


WORKLOADS = {"serve": serve, "ingest": ingest_workload}
