"""Dedup / similarity / textstats / multimodal operator tests."""

import math

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs_df(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy cat"),  # near dup
        (4, "completely different text about spark shuffles and joins"),
        (5, "spark shuffles and joins about text different completely"),  # permuted
        (6, "a tiny doc"),
    ]
    return spark.createDataFrame(rows, "id long, text string")


def test_exact_dup_groups(docs_df):
    from nadry_spark.operators.dedup import exact_dup_groups

    groups = exact_dup_groups(docs_df, "id", "text").collect()
    assert len(groups) == 1
    assert groups[0]["ids"] == [1, 2]


def test_exact_dedup_keeps_min_id(docs_df):
    from nadry_spark.operators.dedup import exact_dedup

    kept = sorted(r["id"] for r in exact_dedup(docs_df, "id", "text").collect())
    assert kept == [1, 3, 4, 5, 6]


def test_compact_string_matches_reference_semantics(spark):
    from nadry_spark.operators.dedup import compact_string_col

    # WebCrawler.java:224-243: first char of words len>2 whose first
    # char isLetterOrDigit
    df = spark.createDataFrame(
        [(1, "the quick a !! ..foo bar99 7seven x y zz")], "id long, text string"
    )
    got = df.select(compact_string_col("text").alias("cs")).collect()[0]["cs"]
    # words: the(t) quick(q) a(skip len) !!(skip len) ..foo(skip first char)
    # bar99(b) 7seven(7) x(skip) y(skip) zz(skip len 2)
    assert got == "tqb7"


def test_minhash_lsh_finds_near_dups(docs_df):
    from nadry_spark.operators.dedup import minhash_dedup_pairs

    pairs = minhash_dedup_pairs(
        docs_df, "id", "text", shingle_n=3, n_hashes=16, bands=8, threshold=0.5
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in got  # exact dups always survive
    # jaccard(1,3) on 3-shingles: 7 shingles each, 6 shared -> 6/8 = 0.75
    assert (1, 3) in got or (2, 3) in got
    for r in pairs:
        if (r["id_a"], r["id_b"]) == (1, 2):
            assert r["jaccard"] == pytest.approx(1.0)


def test_dup_group_id_arrays_are_bounded(spark):
    """A degenerate group (every doc identical) must not build a
    corpus-sized id array in one reducer: ids capped, n_dups exact,
    exploded membership carries the full set."""
    from nadry_spark.operators.dedup import (
        exact_dup_groups,
        exact_dup_membership,
        simhash_dup_groups,
    )

    df = spark.createDataFrame(
        [(i, "identical text everywhere") for i in range(500)],
        "id long, text string",
    )
    grp = exact_dup_groups(df, "id", "text", id_cap=10).collect()
    assert len(grp) == 1
    assert grp[0]["n_dups"] == 500
    assert grp[0]["ids"] == list(range(10))  # 10 smallest ids
    mem = exact_dup_membership(df, "id", "text")
    assert mem.count() == 500  # full membership stays exploded rows
    sg = simhash_dup_groups(df, "id", "text", id_cap=7).collect()
    assert len(sg) == 1 and sg[0]["n"] == 500 and sg[0]["ids"] == list(range(7))


def test_lsh_bucket_cap_skips_degenerate_bucket(spark):
    """1,200 identical docs collapse into one band bucket per band; with
    the cap they are SKIPPED (no quadratic self-join) and the drop is
    reported — never silent."""
    from nadry_spark.operators.dedup import minhash_dedup_pairs

    df = spark.createDataFrame(
        [(i, "same boilerplate text repeated on every page of the site")
         for i in range(1200)],
        "id long, text string",
    )
    stats: dict = {}
    pairs = minhash_dedup_pairs(
        df, "id", "text", threshold=0.5, bucket_cap=100, stats=stats
    ).collect()
    assert pairs == []  # the only bucket exceeded the cap -> skipped
    assert stats["skipped_buckets"] >= 1
    # every band bucket holds all 1200 docs -> 4 * C(1200,2) upper bound
    assert stats["max_pairs_dropped"] == 4 * (1200 * 1199) // 2
    # sub-cap corpora are unaffected by the cap
    small = spark.createDataFrame(
        [(1, "alpha beta gamma delta eps"), (2, "alpha beta gamma delta eps")],
        "id long, text string",
    )
    capped = minhash_dedup_pairs(small, "id", "text", threshold=0.5, bucket_cap=100)
    uncapped = minhash_dedup_pairs(small, "id", "text", threshold=0.5, bucket_cap=None)
    assert sorted(map(tuple, capped.collect())) == sorted(map(tuple, uncapped.collect()))


def test_cosine_bucket_cap_skips_hot_orthant(spark):
    from nadry_spark.operators.similarity import cosine_dup_pairs

    vecs = spark.createDataFrame(
        [(i, [1.0, 2.0, 3.0, 4.0, 5.0, 6.0]) for i in range(300)],
        "vec_id long, embedding array<double>",
    )
    stats: dict = {}
    out = cosine_dup_pairs(vecs, threshold=0.9, bucket_cap=50, stats=stats).collect()
    assert out == []
    assert stats["skipped_buckets"] == 1
    assert stats["max_pairs_dropped"] == (300 * 299) // 2
    ok = cosine_dup_pairs(vecs.where(F.col("vec_id") < 3), threshold=0.9, bucket_cap=50)
    assert ok.count() == 3  # all 3 identical vectors pair up under the cap


def test_jaccard_exact_value(spark):
    from nadry_spark.operators.dedup import jaccard_pairs, word_shingles

    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d x")], "id long, text string"
    )
    sh = word_shingles(df, "id", "text", n=2)  # {ab,bc,cd,de} vs {ab,bc,cd,dx}
    out = jaccard_pairs(sh).collect()
    assert len(out) == 1
    assert out[0]["jaccard"] == pytest.approx(3 / 5)


def test_word_shingles_matches_window_form(spark):
    """The Generate-array shingle formulation is row-identical
    (including occurrence MULTIPLICITY under distinct=False) to the
    posexplode + lead() window formulation it replaced — over edge
    cases: docs shorter than n tokens, empty text, leading/trailing
    whitespace (split's empty-first-token behavior), repeated
    shingles, and NULL text."""
    from pyspark.sql import Window

    from nadry_spark.operators.dedup import word_shingles

    rows = [
        (1, "a b c d e"),
        (2, "a b"),                    # < n tokens: no shingles
        (3, ""),                       # empty: no shingles
        (4, "  x y z"),                # leading whitespace: "" first token
        (5, "r r r r r r"),            # repeated shingle occurrences
        (6, None),                     # NULL text: no shingles
        (7, "Mixed CASE tokens here"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")

    def window_form(df, n):
        toks = df.select(
            F.col("id"),
            F.posexplode(F.split(F.lower(F.col("text")), r"\s+")).alias(
                "pos", "tok"
            ),
        )
        w_ord = Window.partitionBy("id").orderBy("pos")
        parts = [F.col("tok")] + [F.lead("tok", i).over(w_ord) for i in range(1, n)]
        sh = F.when(
            F.lead("tok", n - 1).over(w_ord).isNotNull(), F.concat_ws(" ", *parts)
        )
        return toks.select("id", sh.alias("shingle")).where(
            F.col("shingle").isNotNull()
        )

    for n in (2, 3, 5):
        got = sorted(map(tuple, word_shingles(df, "id", "text", n, distinct=False).collect()))
        want = sorted(map(tuple, window_form(df, n).collect()))
        assert got == want, f"n={n}"
        got_d = sorted(map(tuple, word_shingles(df, "id", "text", n).collect()))
        want_d = sorted(map(tuple, window_form(df, n).distinct().collect()))
        assert got_d == want_d, f"distinct n={n}"


def test_prefix_filtered_jaccard_matches_naive(spark):
    """The All-Pairs/PPJoin prefix filter is LOSSLESS: at every
    threshold the prefix-filtered pipeline returns exactly the pairs
    the naive all-pairs shingle join returns."""
    import random

    from nadry_spark.operators.dedup import (
        jaccard_pairs,
        ngram_jaccard_dups,
        word_shingles,
    )

    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(60)]
    rows = []
    for i in range(30):
        rows.append((i, " ".join(rng.choice(vocab) for _ in range(rng.randint(6, 30)))))
    # planted near-dups: light mutations of existing docs
    for i in range(30, 40):
        base = rows[i - 30][1].split()
        j = rng.randrange(len(base))
        base[j] = rng.choice(vocab)
        rows.append((i, " ".join(base)))
    df = spark.createDataFrame(rows, "id long, text string")

    sh = word_shingles(df, "id", "text", n=3).persist()
    for t in (0.3, 0.5, 0.8):
        naive = {
            (r["id_a"], r["id_b"], round(r["jaccard"], 9))
            for r in jaccard_pairs(sh, None, t).collect()
        }
        stats = {}
        fast = {
            (r["id_a"], r["id_b"], round(r["jaccard"], 9))
            for r in ngram_jaccard_dups(
                df, "id", "text", shingle_n=3, threshold=t, stats=stats
            ).collect()
        }
        assert fast == naive, f"threshold={t}"
        # the filter must actually prune: prefixes are a strict subset
        # of the shingle rows once t > 0
        assert stats["prefix_rows"] < stats["shingle_rows"]
        assert stats["candidate_pairs"] >= len(naive)
    sh.unpersist()


def test_jaccard_driver_fast_path_identical_to_distributed(spark, monkeypatch):
    """ngram_jaccard_dups' driver fast path (numpy co-occurrence
    verify) must be row-identical — jaccard doubles BIT-equal — to the
    distributed PPJoin path, for long and string ids; the pair-bound
    gate must fall back to the distributed join rather than fail."""
    import random

    from nadry_spark.operators import dedup as dedup_mod
    from nadry_spark.operators.dedup import ngram_jaccard_dups

    rng = random.Random(5)
    vocab = [f"w{i}" for i in range(50)]
    rows = []
    for i in range(40):
        rows.append((i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 25)))))
    for i in range(40, 55):
        base = rows[i - 40][1].split()
        if base:
            base[rng.randrange(len(base))] = rng.choice(vocab)
        rows.append((i, " ".join(base)))
    rows.append((90, ""))  # empty doc: no shingles either way
    df = spark.createDataFrame(rows, "id long, text string")
    sdf = spark.createDataFrame(
        [(f"d{i:03d}", t) for i, t in rows], "id string, text string"
    )
    for frame in (df, sdf):
        for t in (0.3, 0.5):
            fast = sorted(
                (r["id_a"], r["id_b"], r["jaccard"])
                for r in ngram_jaccard_dups(
                    frame, "id", "text", shingle_n=3, threshold=t
                ).collect()
            )
            with monkeypatch.context() as m:
                m.setattr(dedup_mod, "DRIVER_JACCARD_MAX_OCC_ROWS", 0)
                dist = sorted(
                    (r["id_a"], r["id_b"], r["jaccard"])
                    for r in ngram_jaccard_dups(
                        frame, "id", "text", shingle_n=3, threshold=t
                    ).collect()
                )
            assert fast == dist, f"threshold={t}"

    # degenerate input: every doc identical -> pair bound explodes;
    # the fallback must still return the correct (complete) pair set
    boiler = spark.createDataFrame(
        [(i, "a b c d e f g h") for i in range(20)], "id long, text string"
    )
    old = dedup_mod.DRIVER_JACCARD_MAX_PAIR_ROWS
    dedup_mod.DRIVER_JACCARD_MAX_PAIR_ROWS = 10
    try:
        got = ngram_jaccard_dups(boiler, "id", "text", threshold=0.5).count()
    finally:
        dedup_mod.DRIVER_JACCARD_MAX_PAIR_ROWS = old
    assert got == 20 * 19 // 2


def test_minhash_driver_verify_identical_to_join_verify(spark):
    """minhash_dedup_pairs' driver-side numpy verify must return
    exactly the rows of the broadcast-join verify (the LSH candidate
    restriction is semantic: only candidate pairs may appear)."""
    import random

    from nadry_spark.operators import dedup as dedup_mod

    rng = random.Random(17)
    vocab = [f"w{i}" for i in range(40)]
    rows = []
    for i in range(35):
        rows.append((i, " ".join(rng.choice(vocab) for _ in range(rng.randint(4, 20)))))
    for i in range(35, 50):
        base = rows[i - 35][1].split()
        base[rng.randrange(len(base))] = rng.choice(vocab)
        rows.append((i, " ".join(base)))
    df = spark.createDataFrame(rows, "id long, text string")

    def run():
        return sorted(
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in dedup_mod.minhash_dedup_pairs(
                df, "id", "text", shingle_n=2, n_hashes=16, bands=4,
                threshold=0.4,
            ).collect()
        )

    fast = run()
    old = dedup_mod.DRIVER_JACCARD_MAX_OCC_ROWS
    dedup_mod.DRIVER_JACCARD_MAX_OCC_ROWS = 0
    try:
        dist = run()
    finally:
        dedup_mod.DRIVER_JACCARD_MAX_OCC_ROWS = old
    assert fast == dist and len(fast) > 0


def test_minhash_driver_pipeline_parity_stats_and_string_ids(spark):
    """The full driver LSH fast path (signatures + banding + hot-bucket
    skip + restricted verify in numpy) must match the distributed
    pipeline row-for-row AND stat-for-stat, including a tripped bucket
    cap and string ids."""
    import random

    from nadry_spark.operators import dedup as dedup_mod

    rng = random.Random(23)
    vocab = [f"tok{i}" for i in range(30)]
    rows = []
    for i in range(40):
        rows.append(
            (f"doc_{i:03d}", " ".join(rng.choice(vocab) for _ in range(rng.randint(4, 18))))
        )
    for i in range(40, 55):  # near-dup partners
        base = rows[i - 40][1].split()
        base[rng.randrange(len(base))] = rng.choice(vocab)
        rows.append((f"doc_{i:03d}", " ".join(base)))
    for i in range(55, 80):  # degenerate boilerplate -> hot buckets
        rows.append((f"dup_{i:03d}", "same same same same same"))
    df = spark.createDataFrame(rows, "id string, text string")

    def run(cap):
        stats: dict = {}
        got = sorted(
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in dedup_mod.minhash_dedup_pairs(
                df, "id", "text", shingle_n=2, n_hashes=16, bands=4,
                threshold=0.3, bucket_cap=cap, stats=stats,
            ).collect()
        )
        return got, stats

    for cap in (10, 1000, None):
        fast, fast_stats = run(cap)
        old = dedup_mod.DRIVER_JACCARD_MAX_OCC_ROWS
        dedup_mod.DRIVER_JACCARD_MAX_OCC_ROWS = 0
        try:
            dist, dist_stats = run(cap)
        finally:
            dedup_mod.DRIVER_JACCARD_MAX_OCC_ROWS = old
        assert fast == dist, cap
        assert fast_stats == dist_stats, cap
        if cap == 10:
            assert fast_stats["skipped_buckets"] >= 1
        if cap == 1000:
            assert len(fast) > 0


def test_minhash_driver_gates_fall_back(spark):
    """Tripping the distinct-shingle or candidate-pair gate must fall
    back to the distributed pipeline with identical rows."""
    from nadry_spark.operators import dedup as dedup_mod

    df = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta") for i in range(12)],
        "id long, text string",
    )

    def run():
        return sorted(
            map(tuple, dedup_mod.minhash_dedup_pairs(
                df, "id", "text", threshold=0.5
            ).collect())
        )

    base = run()
    for attr in ("DRIVER_MINHASH_MAX_DISTINCT_SHINGLES", "DRIVER_MINHASH_MAX_CAND_PAIRS"):
        old = getattr(dedup_mod, attr)
        setattr(dedup_mod, attr, 0)
        try:
            assert run() == base, attr
        finally:
            setattr(dedup_mod, attr, old)
    assert len(base) == 12 * 11 // 2  # identical docs all pair up


def test_prefix_filter_prunes_boilerplate(spark):
    """Docs sharing only a frequent boilerplate shingle never become
    candidates: the common shingle lands in every doc's suffix (global
    df ordering) so the candidate count stays small while the naive
    join would pair every doc with every other."""
    from nadry_spark.operators.dedup import prefix_filtered_candidates, word_shingles

    # 20 docs: each has a unique core + one shared boilerplate trigram
    rows = [
        (i, f"u{i}a u{i}b u{i}c u{i}d common boiler plate") for i in range(20)
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    sh = word_shingles(df, "id", "text", n=3)
    cand = prefix_filtered_candidates(sh, 0.5).count()
    # naive join on the shared "common boiler plate" shingle alone
    # would produce C(20,2)=190 pairs; the prefix filter keeps none
    # (every real J(A,B) = 1/9 < 0.5 and the shared shingle has
    # df=20, sorting it to the very end of each doc's order)
    assert cand == 0


def test_simhash_identical_docs_same_sig(docs_df):
    from nadry_spark.operators.dedup import simhash_dup_groups, simhash_signatures

    sigs = {r["id"]: r["simhash"] for r in simhash_signatures(docs_df, "id", "text").collect()}
    assert sigs[1] == sigs[2]
    assert sigs[4] == sigs[5]  # simhash is order-invariant (bag of words)
    assert sigs[1] != sigs[4]
    assert len(sigs[1]) == 32 and set(sigs[1]) <= {"0", "1"}
    groups = simhash_dup_groups(docs_df, "id", "text").collect()
    assert {tuple(g["ids"]) for g in groups} == {(1, 2), (4, 5)}


def test_brute_force_topk_matches_numpy(spark):
    import numpy as np

    from nadry_spark.operators.similarity import brute_force_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 3)
    got = brute_force_topk(emb, queries, k=5).collect()

    rows = emb.collect()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in rows}
    for qid in range(3):
        q = vecs[qid]
        sims = sorted(
            (
                (-float(q @ v / (np.linalg.norm(q) * np.linalg.norm(v))), vid)
                for vid, v in vecs.items()
                if vid != qid
            ),
        )[:5]
        want = [vid for _, vid in sims]
        mine = [r["neighbour_id"] for r in sorted(
            (r for r in got if r["query_id"] == qid), key=lambda r: r["rank"]
        )]
        assert mine == want, qid


def test_lsh_topk_subset_of_brute_force_candidates(spark):
    from nadry_spark.operators.similarity import lsh_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 3)
    got = lsh_topk(emb, queries, k=5).collect()
    assert len(got) > 0
    # every returned neighbour shares the query's sign bucket by construction
    for r in got:
        assert r["rank"] >= 1 and r["neighbour_id"] != r["query_id"]


def test_lang_id_and_quality(spark):
    from nadry_spark.operators.textstats import lang_id, quality_score, token_counts

    df = spark.createDataFrame(
        [
            (1, "the cat is on the mat and it is happy with the dog"),
            (2, "der hund ist nicht auf der matte und das ist gut"),
            (3, "xxqqzz bbnnvv ccrrtt"),
        ],
        "id long, text string",
    )
    langs = {r["id"]: r["lang_pred"] for r in lang_id(df, "id", "text").collect()}
    assert langs[1] == "en"
    assert langs[2] == "de"
    assert langs[3] == "und"

    q = {r["id"]: r["quality"] for r in quality_score(df, "id", "text").collect()}
    assert q[1] > q[3]

    tc = {r["id"]: r for r in token_counts(df, "id", "text").collect()}
    assert tc[1]["ws_tokens"] == 13
    assert tc[1]["subword_pieces"] >= 13


def test_fingerprints(spark):
    from nadry_spark.operators.textstats import md5_fingerprint, rolling_fingerprints_udf

    df = spark.createDataFrame(
        [
            (1, "hello   world"),
            (2, "hello world"),
            (3, "different " * 20),
            (4, "different " * 20),  # byte-identical to 3
        ],
        "id long, text string",
    )
    fps = {r["id"]: r["fingerprint"] for r in md5_fingerprint(df, "id", "text").collect()}
    assert fps[1] == fps[2]  # md5 fingerprint is whitespace-normalized
    assert fps[1] != fps[3]

    rf = {
        r["id"]: r["rf"]
        for r in df.select("id", rolling_fingerprints_udf(F.col("text")).alias("rf")).collect()
    }
    # rolling fingerprints are raw-byte window hashes: identical bytes ->
    # identical prints; whitespace variants differ
    assert rf[3] == rf[4]
    assert rf[3]  # long text yields sampled window hashes


def test_multimodal_featurize_and_frame_plan(spark):
    import hashlib

    from nadry_spark.operators.multimodal import (
        fake_features,
        featurize,
        frame_sample_plan,
        real_decode,
        real_features,
        synthetic_media,
    )

    media = synthetic_media(spark, n=30)
    feats = featurize(media).collect()  # mode="auto"
    assert len(feats) == 30
    by_id = {r["media_id"]: r for r in feats}
    raw_rows = {r["media_id"]: r for r in media.collect()}
    raw = {mid: bytes(r["payload"]) for mid, r in raw_rows.items()}
    for mid, r in by_id.items():
        assert r["sha256"] == hashlib.sha256(raw[mid]).hexdigest()
        assert r["n_bytes"] == len(raw[mid])
        kind = raw_rows[mid]["kind"]
        codec = raw_rows[mid]["meta"]["codec"]
        if kind == "image" or codec == "pcm16":
            # REAL stdlib sample decode (PPM/PNG/JPEG / WAV)
            assert r["decoded"] is True
            assert r["features"] == pytest.approx(
                real_features(raw[mid], kind).tolist()
            )
            if kind == "image":
                assert r["features"][0] == 1.0
                assert r["features"][1] == raw_rows[mid]["meta"]["width"]
                assert r["features"][2] == raw_rows[mid]["meta"]["height"]
            else:
                assert r["features"][0] == 2.0
                assert r["features"][2] == pytest.approx(
                    raw_rows[mid]["meta"]["duration_ms"] / 1000.0, abs=0.01
                )
        else:  # mp3/mp4/fake payloads: metadata-probe-only -> fallback
            assert r["decoded"] is False
            assert r["features"] == pytest.approx(fake_features(raw[mid]).tolist())
            assert abs(sum(r["features"]) - 1.0) < 1e-5

    plan = frame_sample_plan(media, every_ms=1000).collect()
    assert all(r["frame_ts_ms"] % 1000 == 0 for r in plan)
    assert len(plan) > 0

    with pytest.raises(NotImplementedError):
        real_decode(b"\x89PNG not decodable", "image")


def test_multimodal_hostile_header_falls_back(spark):
    """A hostile PPM header declaring absurd dimensions must fall back
    to fake features in auto mode (never kill the job) and raise a
    normal corrupt-payload error in real mode."""
    import pytest as _pytest

    from nadry_spark.operators.multimodal import featurize, real_decode

    hostile = b"P6 99999999999999999999 9 255 " + b"\x00" * 32
    with _pytest.raises(ValueError):
        real_decode(hostile, "image")
    media = spark.createDataFrame(
        [(0, "image", hostile, (0, 0, 0, "ppm"))],
        "media_id long, kind string, payload binary, "
        "meta struct<width:int, height:int, duration_ms:int, codec:string>",
    )
    rows = featurize(media, mode="auto").collect()
    assert len(rows) == 1 and rows[0]["decoded"] is False
    assert any(f != 0 for f in rows[0]["features"])  # histogram fallback ran


def test_multimodal_stdlib_codecs_roundtrip():
    import numpy as np

    from nadry_spark.operators.multimodal import (
        decode_ppm,
        decode_wav,
        encode_ppm,
        encode_wav,
        resize_nearest,
    )

    arr = ((np.arange(5 * 7 * 3) * 3) % 256).astype(np.uint8).reshape(5, 7, 3)
    assert (decode_ppm(encode_ppm(arr)) == arr).all()
    # PPM comments in the header parse correctly
    with_comment = b"P6\n# a comment\n7 5\n255\n" + arr.tobytes()
    assert (decode_ppm(with_comment) == arr).all()

    t = np.arange(800)
    wav = encode_wav(0.25 * np.sin(2 * np.pi * 440 * t / 8000), rate=8000)
    samples, rate = decode_wav(wav)
    assert rate == 8000 and len(samples) == 800
    assert float(np.abs(samples).max()) == pytest.approx(0.25, abs=0.01)

    small = resize_nearest(arr, 3, 2)
    assert small.shape == (2, 3, 3)
    assert (resize_nearest(arr, 7, 5) == arr).all()  # identity resize


def test_ivf_ann_recall_vs_brute_force(spark):
    import numpy as np
    from pyspark.sql import functions as F

    from nadry_spark.operators.similarity import brute_force_topk, ivf_build, ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    assigned, centroids = ivf_build(emb, n_centroids=8, iters=2)
    assert len(centroids) == 8
    # every vector assigned to exactly one bucket
    assert assigned.count() == emb.count()

    queries = emb.where(F.col("vec_id") < 5)
    approx = ivf_topk(assigned, centroids, queries, k=10, nprobe=4)
    exact = brute_force_topk(emb, queries, k=10)
    a = {(r["query_id"], r["neighbour_id"]) for r in approx.collect()}
    e = {(r["query_id"], r["neighbour_id"]) for r in exact.collect()}
    recall = len(a & e) / len(e)
    assert recall >= 0.5, recall  # nprobe=4 of 8 buckets

    # determinism: rebuilding gives identical assignments
    assigned2, centroids2 = ivf_build(emb, n_centroids=8, iters=2)
    assert centroids == centroids2


def test_winnowing_shared_passage_guarantee(spark):
    """Winnowing guarantee: two docs sharing a token run of length
    >= w+k-1 (= 6 for k=3,w=4) share at least one fingerprint; disjoint
    docs share none."""
    from nadry_spark.operators.textstats import winnowing_fingerprints

    shared = "alpha beta gamma delta epsilon zeta"
    df = spark.createDataFrame(
        [
            (1, f"intro words here {shared} tail one"),
            (2, f"{shared} completely different ending text"),
            (3, "nothing in common with the others at all"),
        ],
        "doc_id long, text string",
    )
    fp = winnowing_fingerprints(df, "doc_id", "text", k=3, w=4)
    rows = fp.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["id"], set()).add(r["fp"])
    assert by_doc[1] & by_doc[2], "shared 6-token run must share a fingerprint"
    assert not (by_doc[1] & by_doc[3])
    assert not (by_doc[2] & by_doc[3])
    # positions are valid 0-based k-gram starts
    assert all(r["pos"] >= 0 for r in rows)
    # short docs (< k tokens) produce no fingerprints, no errors
    tiny = spark.createDataFrame([(9, "one two")], "doc_id long, text string")
    assert winnowing_fingerprints(tiny, "doc_id", "text").count() == 0


def test_kmv_distinct_estimate_accuracy(spark):
    """KMV estimate lands within the expected ~1/sqrt(k) error band and
    degrades gracefully to exact counting below k distinct values."""
    from pyspark.sql import functions as F

    from nadry_spark.operators.sketches import kmv_distinct_estimate

    df = spark.range(20000).select((F.col("id") % 5000).cast("string").alias("v"))
    row = kmv_distinct_estimate(df, "v", k=256).collect()[0]
    assert row["exact_distinct"] == 5000
    assert abs(row["est_distinct"] - 5000) / 5000 < 0.2  # ~3 sigma at k=256

    small = spark.range(100).select(F.col("id").cast("string").alias("v"))
    row = kmv_distinct_estimate(small, "v", k=256).collect()[0]
    assert row["est_distinct"] == 100.0  # fewer than k -> exact


def test_winnow_dup_pairs_links_shared_passages(spark):
    """Two docs sharing one long passage (but nothing else) pair up;
    unrelated docs don't; boilerplate fingerprints over the cap are
    skipped with exact drop accounting."""
    from nadry_spark.operators.textstats import winnow_dup_pairs

    passage = "the quick brown fox jumps over the lazy dog near the river bank today"
    df = spark.createDataFrame(
        [
            (1, "intro alpha beta " + passage + " outro gamma delta"),
            (2, "completely different words here " + passage + " trailing text"),
            (3, "nothing in common with anyone else at all whatsoever zilch"),
        ],
        "id long, text string",
    )
    pairs = winnow_dup_pairs(df, "id", "text", min_shared=2).collect()
    got = {(r["id_a"], r["id_b"]): r["n_shared"] for r in pairs}
    assert (1, 2) in got and got[(1, 2)] >= 2  # winnowing guarantee on the run
    assert all(p == (1, 2) for p in got)

    # cap: 600 identical docs -> every fingerprint bucket is over cap
    boiler = spark.createDataFrame(
        [(i, "same boilerplate sentence repeated across the whole mirror site")
         for i in range(600)],
        "id long, text string",
    )
    stats: dict = {}
    out = winnow_dup_pairs(boiler, "id", "text", min_shared=1, fp_cap=100, stats=stats).collect()
    assert out == []
    assert stats["skipped_fps"] >= 1
    assert stats["max_pairs_dropped"] == stats["skipped_fps"] * (600 * 599) // 2


def test_duplicate_spans_exact_boundaries(spark):
    """Cross-doc shared substring and intra-doc self-repeat both mark
    spans with exact token boundaries; unique text marks nothing."""
    from nadry_spark.operators.textstats import duplicate_spans

    shared = "alpha bravo charlie delta"  # 4 tokens, shared run
    rows = [
        # doc 0: unique prefix (3 toks) + shared run at pos 3..6
        (0, "u0a u0b u0c " + shared + " z0a z0b z0c"),
        # doc 1: shared run at pos 0..3
        (1, shared + " q1a q1b q1c q1d q1e q1f"),
        # doc 2: fully unique
        (2, "m0 m1 m2 m3 m4 m5 m6 m7 m8 m9"),
        # doc 3: self-repeat — same 4-gram twice in one doc
        (3, "r0 " + shared + " mid1 mid2 mid3 mid4 mid5 " + shared + " r1"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    out = {
        r["id"]: (r["span_start"], r["span_end"], r["n_windows"])
        for r in duplicate_spans(df, "id", "text", k=4).collect()
    }
    # k=4 over a 4-token shared run -> exactly one duplicated window
    assert out[0] == (3, 7, 1)
    assert out[1] == (0, 4, 1)
    assert 2 not in out
    # doc 3 has the gram at pos 1 and pos 10 — two islands, but
    # collect() returns one row per island; both present
    rows3 = [
        (r["span_start"], r["span_end"])
        for r in duplicate_spans(df, "id", "text", k=4)
        .where(F.col("id") == 3)
        .collect()
    ]
    assert sorted(rows3) == [(1, 5), (10, 14)]


def test_duplicate_spans_merge_overlapping_windows(spark):
    """A long shared run yields ONE maximal span (overlapping windows
    merge), and adjacent-but-distinct duplicated grams chain too."""
    from nadry_spark.operators.textstats import duplicate_spans

    run = " ".join(f"s{i}" for i in range(10))  # 10-token shared run
    rows = [
        (0, "x0 x1 " + run + " y0 y1"),
        (1, run),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    out = {
        r["id"]: (r["span_start"], r["span_end"], r["span_tokens"], r["n_windows"])
        for r in duplicate_spans(df, "id", "text", k=4).collect()
    }
    # doc 0: duplicated 4-gram windows at pos 2..8 (7 windows) merge
    # into one span covering tokens [2, 12)
    assert out[0] == (2, 12, 10, 7)
    assert out[1] == (0, 10, 10, 7)


def test_redact_pii_masks_in_reference_order(spark):
    from nadry_spark.operators.textstats import redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail bob@site.com and https://ex.org/a?x=1 costs 12.5 now"),
            (2, "no pii here at all"),
        ],
        "doc_id long, text string",
    )
    out = {r["id"]: r for r in redact_pii(df, "doc_id", "text").collect()}
    assert (out[1]["n_emails"], out[1]["n_urls"], out[1]["n_nums"]) == (1, 1, 1)
    assert (out[2]["n_emails"], out[2]["n_urls"], out[2]["n_nums"]) == (0, 0, 0)
    import hashlib

    want = "mail <EMAIL> and <URL> costs <NUM> now"
    assert out[1]["redacted_md5"] == hashlib.md5(want.encode()).hexdigest()
    assert out[2]["redacted_md5"] == hashlib.md5(b"no pii here at all").hexdigest()


def test_png_roundtrip_all_filters():
    """encode_png applies each PNG filter (None/Sub/Up/Average/Paeth)
    to every scanline; decode_png must invert all of them to the same
    pixels, identically to the PPM kernel on the same data."""
    import numpy as np

    from nadry_spark.operators.multimodal import (
        decode_png,
        decode_ppm,
        encode_png,
        encode_ppm,
    )

    rng = np.random.RandomState(11)
    arr = rng.randint(0, 256, size=(13, 9, 3), dtype=np.uint8)
    for f in range(5):
        got = decode_png(encode_png(arr, filter_type=f))
        assert got.dtype == np.uint8 and got.shape == (13, 9, 3)
        assert (got == arr).all(), f"filter {f}"
    # PNG and PPM kernels agree on identical pixel data
    assert (decode_png(encode_png(arr)) == decode_ppm(encode_ppm(arr))).all()


def test_png_color_types_and_hostile():
    """Grey / palette / grey+alpha / RGBA PNGs all decode to RGB; bad
    headers raise ValueError, unsupported depths NotImplementedError,
    and a deflate bomb cannot out-allocate the IHDR-implied size."""
    import zlib

    import numpy as np
    import pytest as _pytest

    from nadry_spark.operators.multimodal import _PNG_MAGIC, decode_png

    def chunk(ctype, data):
        return (
            len(data).to_bytes(4, "big") + ctype + data
            + (zlib.crc32(ctype + data) & 0xFFFFFFFF).to_bytes(4, "big")
        )

    def png(w, h, depth, color, raw, extra=b"", interlace=0):
        ihdr = (
            w.to_bytes(4, "big") + h.to_bytes(4, "big")
            + bytes([depth, color, 0, 0, interlace])
        )
        return (
            _PNG_MAGIC + chunk(b"IHDR", ihdr) + extra
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
        )

    # grey 2x2 (filter 0 rows): values replicate across RGB
    grey = png(2, 2, 8, 0, b"\x00\x0a\x14\x00\x1e\x28")
    out = decode_png(grey)
    assert out.shape == (2, 2, 3)
    assert (out[0, 0] == [10, 10, 10]).all() and (out[1, 1] == [40, 40, 40]).all()

    # palette 2x1: indices 1, 0 into a 2-entry PLTE
    plte = chunk(b"PLTE", bytes([255, 0, 0, 0, 255, 0]))
    pal = png(2, 1, 8, 3, b"\x00\x01\x00", extra=plte)
    out = decode_png(pal)
    assert (out[0, 0] == [0, 255, 0]).all() and (out[0, 1] == [255, 0, 0]).all()
    # palette index out of range is a normal corrupt-payload error
    with _pytest.raises(ValueError):
        decode_png(png(2, 1, 8, 3, b"\x00\x05\x00", extra=plte))

    # grey+alpha and RGBA: alpha dropped
    ga = png(1, 1, 8, 4, b"\x00\x63\x80")
    assert (decode_png(ga)[0, 0] == [99, 99, 99]).all()
    rgba = png(1, 1, 8, 6, b"\x00\x01\x02\x03\xff")
    assert (decode_png(rgba)[0, 0] == [1, 2, 3]).all()

    # 16-bit and interlaced are REAL now (see the dedicated tests);
    # the 1x1 degenerate cases decode here
    assert decode_png(png(1, 1, 16, 0, b"\x00\x12\x34")).tolist() == [[[18, 18, 18]]]
    assert decode_png(png(1, 1, 8, 0, b"\x00\x07", interlace=1)).tolist() == [[[7, 7, 7]]]
    # illegal depth/color combos and interlace methods are corrupt input
    with _pytest.raises(ValueError):
        decode_png(png(1, 1, 16, 3, b"\x00\x00\x00", extra=plte))
    with _pytest.raises(ValueError):
        decode_png(png(1, 1, 1, 2, b"\x00\x00"))
    with _pytest.raises(ValueError):
        decode_png(png(1, 1, 8, 0, b"\x00\x00", interlace=2))

    # bomb: tiny IDAT inflating to far more than IHDR implies
    bomb = png(1, 1, 8, 0, b"\x00" * 10_000_000)
    with _pytest.raises(ValueError):
        decode_png(bomb)
    # truncated pixel data
    with _pytest.raises(ValueError):
        decode_png(png(4, 4, 8, 2, b"\x00\x01\x02"))


def _png_fixture(w, h, depth, color, raw, extra=b"", interlace=0):
    import zlib

    from nadry_spark.operators.multimodal import _PNG_MAGIC

    def chunk(ctype, data):
        return (
            len(data).to_bytes(4, "big") + ctype + data
            + (zlib.crc32(ctype + data) & 0xFFFFFFFF).to_bytes(4, "big")
        )

    ihdr = (
        w.to_bytes(4, "big") + h.to_bytes(4, "big")
        + bytes([depth, color, 0, 0, interlace])
    )
    return (
        _PNG_MAGIC + chunk(b"IHDR", ihdr) + extra
        + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
    )


def test_png_16bit_decode():
    """16-bit samples (big-endian) scale to their high byte; the Up
    filter operates on bytes with the 16-bit pixel width."""
    import numpy as np

    from nadry_spark.operators.multimodal import decode_png

    # 2x2 RGB 16-bit, filter 0: pixel (r,g,b) = (0x1234, 0x0001, 0xFF00), ...
    def px(*vals):
        return b"".join(v.to_bytes(2, "big") for v in vals)

    row0 = b"\x00" + px(0x1234, 0x0001, 0xFF00) + px(0xABCD, 0x8000, 0x00FF)
    row1 = b"\x02" + b"\x00" * 12  # Up filter: copies row 0 exactly
    out = decode_png(_png_fixture(2, 2, 16, 2, row0 + row1))
    assert out.shape == (2, 2, 3)
    assert out[0, 0].tolist() == [0x12, 0x00, 0xFF]
    assert out[0, 1].tolist() == [0xAB, 0x80, 0x00]
    assert (out[1] == out[0]).all()
    # 16-bit grey+alpha: grey high byte replicates, alpha dropped
    ga = _png_fixture(1, 1, 16, 4, b"\x00" + px(0x7F10, 0xFFFF))
    assert decode_png(ga)[0, 0].tolist() == [0x7F, 0x7F, 0x7F]


def test_png_subbyte_depths():
    """1/2/4-bit grey expands by 255/(2^d-1); 4-bit palette indices
    pass through unscaled; row bit-padding is dropped."""
    from nadry_spark.operators.multimodal import decode_png

    # 1-bit grey, 3x2: rows 101 / 010 packed into one byte each
    out = decode_png(_png_fixture(3, 2, 1, 0, b"\x00\xa0\x00\x40"))
    assert out[:, :, 0].tolist() == [[255, 0, 255], [0, 255, 0]]
    # 2-bit grey, 3x1: values 0,1,3 -> 0,85,255
    out = decode_png(_png_fixture(3, 1, 2, 0, b"\x00" + bytes([0b00_01_11_00])))
    assert out[:, :, 0].tolist() == [[0, 85, 255]]
    # 4-bit palette, 3x1: indices 2,0,1
    import zlib as _z

    plte = bytes([10, 20, 30, 40, 50, 60, 70, 80, 90])

    def chunk(ctype, data):
        return (
            len(data).to_bytes(4, "big") + ctype + data
            + (_z.crc32(ctype + data) & 0xFFFFFFFF).to_bytes(4, "big")
        )

    out = decode_png(
        _png_fixture(3, 1, 4, 3, b"\x00\x20\x10", extra=chunk(b"PLTE", plte))
    )
    assert out[0].tolist() == [[70, 80, 90], [10, 20, 30], [40, 50, 60]]


def test_png_adam7_matches_progressive():
    """An Adam7-interlaced encoding of an image decodes to exactly the
    same pixels as the plain encoding — pass extraction, per-pass
    unfiltering, and scatter are lossless."""
    import numpy as np

    from nadry_spark.operators.multimodal import _ADAM7, decode_png, encode_png

    rng = np.random.RandomState(7)
    for (h, w) in ((10, 13), (8, 8), (3, 5), (1, 9), (7, 1)):
        arr = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
        raw = b""
        for x0, y0, dx, dy in _ADAM7:
            sub = arr[y0::dy, x0::dx]
            if sub.size == 0:
                continue
            for row in sub:
                raw += b"\x00" + row.tobytes()
        got = decode_png(_png_fixture(w, h, 8, 2, raw, interlace=1))
        assert (got == arr).all(), (h, w)
        assert (decode_png(encode_png(arr)) == arr).all()


def test_png_rows_in_synthetic_media(spark):
    """The synthetic media table carries PPM, PNG and baseline-JPEG
    images; featurize decodes all of them for real (decoded=True,
    header-true W/H)."""
    from nadry_spark.operators.multimodal import featurize, synthetic_media

    media = synthetic_media(spark, n=36)
    metas = {
        r["media_id"]: r for r in media.select("media_id", "kind", "meta").collect()
    }
    codecs = {m["meta"]["codec"] for m in metas.values() if m["kind"] == "image"}
    assert codecs == {"ppm", "png", "jpeg"}
    for r in featurize(media, mode="auto").collect():
        m = metas[r["media_id"]]
        if m["kind"] == "image":
            assert r["decoded"] is True, m["meta"]["codec"]
            assert r["features"][1] == m["meta"]["width"]
            assert r["features"][2] == m["meta"]["height"]


def test_png_corrupt_idat_falls_back(spark):
    """A PNG-magic payload with garbage IDAT raises zlib.error in the
    decoder; featurize auto mode must fall back to fake features, not
    kill the job."""
    import zlib

    import pytest as _pytest

    from nadry_spark.operators.multimodal import _PNG_MAGIC, decode_png, featurize

    def chunk(ctype, data):
        return (
            len(data).to_bytes(4, "big") + ctype + data
            + (zlib.crc32(ctype + data) & 0xFFFFFFFF).to_bytes(4, "big")
        )

    ihdr = (2).to_bytes(4, "big") + (2).to_bytes(4, "big") + bytes([8, 2, 0, 0, 0])
    bad = (
        _PNG_MAGIC + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", b"\x99garbage-not-deflate\x42")
        + chunk(b"IEND", b"")
    )
    with _pytest.raises(zlib.error):
        decode_png(bad)
    media = spark.createDataFrame(
        [(0, "image", bad, (2, 2, 0, "png"))],
        "media_id long, kind string, payload binary, "
        "meta struct<width:int, height:int, duration_ms:int, codec:string>",
    )
    rows = featurize(media, mode="auto").collect()
    assert len(rows) == 1 and rows[0]["decoded"] is False


def test_jpeg_roundtrip_modes():
    """encode_jpeg -> decode_jpeg across the decoder's real paths:
    4:4:4, 4:2:0 chroma upsampling, restart markers, grey scans, odd
    (non-MCU-multiple) dimensions. The fixture encoder quantizes with
    a flat step of 4, so constant blocks survive near-exactly and
    arbitrary content stays within a small bounded error."""
    import numpy as np

    from nadry_spark.operators.multimodal import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(11)

    # constant image, 4:4:4: DCT is a lone DC coefficient -> exact
    # modulo color-transform rounding
    arr = np.full((16, 16, 3), 120, np.uint8)
    out = decode_jpeg(encode_jpeg(arr, subsample=False))
    assert out.shape == (16, 16, 3)
    assert np.abs(out.astype(int) - 120).max() <= 1

    # random content, 4:4:4, odd dims: bounded quant error, exact crop
    arr = rng.integers(0, 256, (24, 17, 3)).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(arr, subsample=False))
    assert out.shape == (24, 17, 3)
    assert np.abs(out.astype(int) - arr.astype(int)).max() <= 16

    # smooth gradient, 4:2:0, odd dims: chroma upsample stays close
    y, x = np.mgrid[0:33, 0:29]
    arr = np.stack([(y * 3) % 256, (x * 5) % 256, ((x + y) * 2) % 256], 2).astype(
        np.uint8
    )
    out = decode_jpeg(encode_jpeg(arr, subsample=True))
    assert out.shape == (33, 29, 3)
    assert np.abs(out.astype(int) - arr.astype(int)).max() <= 12

    # restart markers change the byte stream, not the pixels
    arr = rng.integers(0, 256, (32, 32, 3)).astype(np.uint8)
    plain = decode_jpeg(encode_jpeg(arr, subsample=True))
    restarted = decode_jpeg(encode_jpeg(arr, subsample=True, restart_interval=1))
    assert (plain == restarted).all()

    # grey scan: decodes to BT.601 luma replicated across RGB
    grey = decode_jpeg(encode_jpeg(arr, grey=True))
    assert grey.shape == (32, 32, 3)
    assert (grey[:, :, 0] == grey[:, :, 1]).all()
    assert (grey[:, :, 1] == grey[:, :, 2]).all()
    luma = 0.299 * arr[:, :, 0] + 0.587 * arr[:, :, 1] + 0.114 * arr[:, :, 2]
    assert np.abs(grey[:, :, 0].astype(float) - luma).max() <= 16

    # encoder output is bit-deterministic (fixture tables, no RNG)
    assert encode_jpeg(arr) == encode_jpeg(arr)


def test_jpeg_progressive_matches_baseline():
    """Progressive (SOF2) and sequential streams of the same image
    encode identical quantized coefficients, so they must decode
    BIT-IDENTICALLY — across chroma modes, odd dims, grey, and
    coefficient distributions that force every Annex-G path (EOB runs
    across blocks, ZRL-in-refinement, newly-significant + correction
    bits, dense high-frequency bands)."""
    import numpy as np

    from nadry_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    rng = np.random.default_rng(5)
    cases = [rng.integers(0, 256, s).astype(np.uint8)
             for s in ((24, 17, 3), (33, 29, 3), (9, 9, 3))]
    cases.append(np.full((40, 48, 3), 77, np.uint8))  # all-AC-zero: max EOB runs
    sparse = np.full((48, 40, 3), 128, np.uint8)  # isolated spikes: ZRL paths
    sparse[5, 5] = [255, 0, 0]
    sparse[37, 3] = [0, 255, 255]
    cases.append(sparse)
    checker = ((np.indices((32, 32)).sum(axis=0) % 2) * 255).astype(np.uint8)
    cases.append(np.repeat(checker[:, :, None], 3, axis=2))  # dense high-freq

    for arr in cases:
        for sub in (False, True):
            base = decode_jpeg(encode_jpeg(arr, subsample=sub))
            prog = decode_jpeg(encode_jpeg_progressive(arr, subsample=sub))
            assert (base == prog).all(), (arr.shape, sub)
    g = cases[0]
    assert (
        decode_jpeg(encode_jpeg(g, grey=True))
        == decode_jpeg(encode_jpeg_progressive(g, grey=True))
    ).all()
    # deterministic bytes
    assert encode_jpeg_progressive(g) == encode_jpeg_progressive(g)


def test_jpeg_errors_and_fallback(spark):
    """Unsupported SOFs raise NotImplementedError, structural
    corruption ValueError, hostile headers are bounded — and featurize
    auto mode falls back to fake features for all of them instead of
    killing the job."""
    import numpy as np
    import pytest as _pytest

    from nadry_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg,
        featurize,
    )

    arr = (np.arange(16 * 16 * 3, dtype=np.int64) % 256).astype(np.uint8).reshape(
        16, 16, 3
    )
    good = bytearray(encode_jpeg(arr, subsample=False))

    sof_at = good.find(b"\xff\xc0")
    # flip SOF0 to SOF2: a baseline full-band SOS inside a progressive
    # stream is structurally corrupt (progressive DC scans need Se=0)
    progressive = bytes(good[:sof_at]) + b"\xff\xc2" + bytes(good[sof_at + 2 :])
    with _pytest.raises(ValueError):
        decode_jpeg(progressive)
    # flip to SOF9 (arithmetic): genuinely unsupported
    arith = bytes(good[:sof_at]) + b"\xff\xc9" + bytes(good[sof_at + 2 :])
    with _pytest.raises(NotImplementedError):
        decode_jpeg(arith)

    with _pytest.raises(ValueError):
        decode_jpeg(b"\xff\xd8\x00\x00")  # bad marker alignment
    with _pytest.raises(ValueError):
        decode_jpeg(bytes(good[:40]))  # truncated mid-segment
    with _pytest.raises(ValueError):
        decode_jpeg(bytes(good[:-20]))  # truncated scan data

    # hostile dimensions in SOF must be rejected before allocation
    h_at = sof_at + 5
    hostile = bytearray(good)
    hostile[h_at : h_at + 4] = (30000).to_bytes(2, "big") + (30000).to_bytes(2, "big")
    with _pytest.raises(ValueError):
        decode_jpeg(bytes(hostile))

    media = spark.createDataFrame(
        [
            (0, "image", progressive, (16, 16, 0, "jpeg")),
            (1, "image", bytes(good[:-20]), (16, 16, 0, "jpeg")),
            (2, "image", bytes(good), (16, 16, 0, "jpeg")),
        ],
        "media_id long, kind string, payload binary, "
        "meta struct<width:int, height:int, duration_ms:int, codec:string>",
    )
    rows = {r["media_id"]: r for r in featurize(media, mode="auto").collect()}
    assert rows[0]["decoded"] is False
    assert rows[1]["decoded"] is False
    assert rows[2]["decoded"] is True
    assert rows[2]["features"][1] == 16.0 and rows[2]["features"][2] == 16.0


def test_media_metadata_probes():
    """MP4 box walk + MP3 frame walk parse exactly what the fixture
    encoders wrote; corrupt structures raise; probe_media never raises
    and routes every container correctly (including progressive-JPEG
    dimensions, which live in SOF regardless of coding mode)."""
    import numpy as np
    import pytest as _pytest

    from nadry_spark.operators.multimodal import (
        encode_jpeg,
        encode_mp3_stub,
        encode_mp4_stub,
        encode_wav,
        parse_mp3_meta,
        parse_mp4_meta,
        probe_media,
    )

    m = parse_mp4_meta(encode_mp4_stub(5230, 320, 240, n_tracks=2))
    assert m == {"container": "mp4", "duration_ms": 5230, "width": 320,
                 "height": 240, "n_tracks": 2}
    # version-1 mvhd (64-bit times): hand-built box tree
    def box(t, b):
        return (8 + len(b)).to_bytes(4, "big") + t + b
    mvhd_v1 = box(
        b"mvhd",
        bytes([1, 0, 0, 0]) + bytes(16)  # v1, ctime/mtime 64-bit
        + (90000).to_bytes(4, "big")  # timescale
        + (90000 * 7).to_bytes(8, "big")  # duration: 7s
        + bytes(80),
    )
    v1 = box(b"ftyp", b"isom") + box(b"moov", mvhd_v1)
    assert parse_mp4_meta(v1)["duration_ms"] == 7000
    with _pytest.raises(ValueError):
        parse_mp4_meta(box(b"ftyp", b"isom"))  # no moov
    with _pytest.raises(ValueError):
        parse_mp4_meta(b"\x00\x00\x00\x30moovrest-is-too-short")

    p = parse_mp3_meta(encode_mp3_stub(7, id3=True))
    assert p["duration_ms"] == 7 * 36 and p["sample_rate"] == 32000
    assert parse_mp3_meta(encode_mp3_stub(4, id3=False))["n_frames"] == 4
    with _pytest.raises(ValueError):
        parse_mp3_meta(b"ID3\x04\x00\x00\x00\x00\x00\x05hello")  # no frames

    # probe_media: exact WAV duration, progressive-JPEG dims, garbage
    wav = encode_wav(np.zeros(1600), rate=8000)
    assert probe_media(wav) == {"container": "wav", "duration_ms": 200,
                                "width": 0, "height": 0}
    jarr = np.zeros((24, 31, 3), np.uint8)
    good = bytearray(encode_jpeg(jarr, subsample=False))
    sof_at = good.find(b"\xff\xc0")
    progressive = bytes(good[:sof_at]) + b"\xff\xc2" + bytes(good[sof_at + 2 :])
    pr = probe_media(progressive)
    assert (pr["container"], pr["width"], pr["height"]) == ("jpeg", 31, 24)
    assert probe_media(b"\x00\x01garbage") == {
        "container": "unknown", "duration_ms": -1, "width": 0, "height": 0}
    assert probe_media(b"")["container"] == "unknown"
    # corrupt MP4: sniffs as ftyp but walk fails -> unknown, no raise
    assert probe_media(b"\x00\x00\x00\x99ftyp")["container"] == "unknown"


def test_media_probe_df_matches_fixture_meta(spark):
    """The distributed probe stage agrees with the ground-truth meta
    struct for every synthetic row (ppm/png/jpeg/wav/mp3/mp4/fake)."""
    from nadry_spark.operators.multimodal import probe_media_df, synthetic_media

    media = synthetic_media(spark, n=48)
    metas = {r["media_id"]: r for r in media.select("media_id", "kind", "meta").collect()}
    containers = set()
    for r in probe_media_df(media).collect():
        m = metas[r["media_id"]]
        w, h, dur, codec = (m["meta"]["width"], m["meta"]["height"],
                            m["meta"]["duration_ms"], m["meta"]["codec"])
        containers.add(r["container"])
        want_container = {"pcm16": "wav", "fake": "unknown"}.get(codec, codec)
        assert r["container"] == want_container
        want_dur = -1 if codec == "fake" else (0 if m["kind"] == "image" else dur)
        assert r["duration_ms"] == want_dur, (codec, r)
        if m["kind"] == "image" or codec == "mp4":
            assert (r["width"], r["height"]) == (w, h)
        else:
            assert (r["width"], r["height"]) == (0, 0)
    assert containers == {"ppm", "png", "jpeg", "wav", "mp3", "mp4", "unknown"}


def test_repetition_stats(spark):
    """A doc that is one phrase looped has high duplicate/top 3-gram
    fractions; a doc of distinct words has zero duplication; docs
    shorter than n tokens are absent."""
    from nadry_spark.operators.textstats import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam"),       # all grams identical
            (2, "one two three four five six"),          # all grams distinct
            (3, "a b"),                                  # < n tokens
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in repetition_stats(df, "doc_id", "text", n=3).collect()}
    assert set(rows) == {1, 2}
    assert rows[1]["n_ngrams"] == 4 and rows[1]["dup_ngram_frac"] == 0.75
    assert rows[1]["top_ngram_frac"] == 1.0
    assert rows[2]["dup_ngram_frac"] == 0.0
    assert rows[2]["top_ngram_frac"] == pytest.approx(0.25)


def test_benchmark_contamination(spark):
    """Only docs sharing an n-gram with the benchmark are returned,
    counted over DISTINCT shared shingles; benchmark texts never
    shingle across row boundaries."""
    from nadry_spark.operators.textstats import benchmark_contamination

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "completely unrelated words nothing shared here at all"),
            (3, "prefix text then the quick brown fox jumps too"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps"), (101, "over the lazy dog today")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["n_shared"]
        for r in benchmark_contamination(docs, bench, n=5).collect()
    }
    # doc 1 holds both benchmark 5-grams; doc 3 only the first; doc 2 none
    assert got == {1: 2, 3: 1}
    # no cross-row benchmark shingle: "jumps over the lazy dog" (spans
    # the two bench rows) exists in doc 1 but must NOT count
    bench_one = spark.createDataFrame(
        [(100, "jumps over the lazy dog")], "doc_id long, text string"
    )
    got_one = {
        r["doc_id"]: r["n_shared"]
        for r in benchmark_contamination(docs, bench_one, n=5).collect()
    }
    assert got_one == {1: 1}


def test_keep_best_per_group(spark):
    from pyspark.sql import functions as F

    from nadry_spark.operators.dedup import keep_best_per_group

    members = spark.createDataFrame(
        [(1, "g1"), (2, "g1"), (3, "g1"), (4, "g2"), (5, "g3"), (6, "g3")],
        "doc_id long, group string",
    )
    scores = spark.createDataFrame(
        [(1, 0.5), (2, 0.9), (3, 0.9), (4, 0.1), (5, 0.7), (6, 0.7)],
        "doc_id long, quality double",
    )
    got = {
        r["group"]: (r["doc_id"], r["quality"])
        for r in keep_best_per_group(members, scores).collect()
    }
    # g1: 2 and 3 tie on 0.9 -> min id 2 ; g2 singleton ; g3 tie -> 5
    assert got == {"g1": (2, 0.9), "g2": (4, 0.1), "g3": (5, 0.7)}


def test_readability(spark):
    from nadry_spark.operators.textstats import readability

    docs = spark.createDataFrame(
        [
            (1, "The cat sat. The dog ran!"),       # 6 words, 2 sentences
            (2, "supercalifragilistic expialidocious"),
            (3, ""),                                 # degenerate: floors kick in
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r.asDict() for r in readability(docs, "doc_id", "text").collect()}

    r1 = got[1]
    assert (r1["n_words"], r1["n_sentences"]) == (6, 2)
    # syllables by the vowel-group heuristic:
    # the=1 cat=1 sat.=1 the=1 dog=1 ran!=1 -> 6
    assert r1["n_syllables"] == 6
    w, s, syl = 6.0, 2.0, 6.0
    assert r1["flesch"] == round(206.835 - 1.015 * (w / s) - 84.6 * (syl / w), 9)
    assert r1["fk_grade"] == round(0.39 * (w / s) + 11.8 * (syl / w) - 15.59, 9)

    # long vowel-rich words score many syllables, zero sentences floor to 1
    r2 = got[2]
    assert r2["n_sentences"] == 1 and r2["n_syllables"] >= 8
    # empty doc: words floor to 1 in the formulas, counts report 0
    r3 = got[3]
    assert (r3["n_words"], r3["n_syllables"]) == (0, 0)
    assert r3["flesch"] == round(206.835 - 1.015 * 1.0 - 84.6 * 0.0, 9)


def test_corpus_profile(spark):
    from nadry_spark.pipeline.profile import corpus_profile

    docs = spark.createDataFrame(
        [
            (1, "one two three four", "en", "a.com"),
            (2, "one two three four", "en", "a.com"),   # exact dup
            (3, "five six", "de", "b.com"),
            (4, "seven", "en", "a.com"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    rep = corpus_profile(docs)
    assert rep["n_docs"] == 4 and rep["n_tokens"] == 11
    assert rep["exact_dup_rate"] == round(1 - 3 / 4, 6)
    assert rep["lang_mix"] == {"en": 3, "de": 1}
    assert rep["top_sources"] == {"a.com": 3, "b.com": 1}
    assert rep["distinct_tokens_exact"] == 7
    # token counts sorted: [1, 2, 4, 4] -> p25=1, p50=2, p90=4
    assert (rep["doc_tokens_p25"], rep["doc_tokens_p50"], rep["doc_tokens_p90"]) == (1, 2, 4)
    assert 0.0 < rep["quality_min"] <= rep["quality_mean"] <= 1.0


def test_gopher_rules(spark):
    from nadry_spark.operators.textstats import gopher_rules

    good = "the quick brown fox jumps to the lazy dog and keeps going with " \
           "plenty of words that have normal shape " * 3
    docs = spark.createDataFrame(
        [
            (1, good),                           # passes everything
            (2, "too short to count"),           # word count < 50
            (3, "### " * 60 + good),             # symbol ratio blown
            (4, "\n".join(["- bullet line"] * 10)),   # bullets + short
            (5, good.replace("the", "zzz").replace("to", "qqq")
                    .replace("of", "rrr").replace("and", "sss")
                    .replace("that", "ttt").replace("have", "uuu")
                    .replace("with", "vvv")),    # < 2 required stopwords
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r.asDict() for r in gopher_rules(docs, "doc_id", "text").collect()}
    assert got[1]["gopher_pass"] == 1
    assert got[2]["gopher_pass"] == 0 and got[2]["word_count"] < 50
    assert got[3]["gopher_pass"] == 0 and got[3]["symbol_ratio"] >= 0.1
    assert got[4]["bullet_ratio"] == 1.0 and got[4]["gopher_pass"] == 0
    assert got[5]["n_req_stopwords"] < 2 and got[5]["gopher_pass"] == 0
    # mean word length sanity on the good doc
    assert 3.0 <= got[1]["mean_word_len"] <= 10.0
