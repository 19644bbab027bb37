"""WARC source: roundtrip (plain + Common-Crawl per-record gzip),
malformed-record tolerance, and index-build equivalence vs parquet."""

import datetime as dt
import os

import pyarrow.parquet as pq


def _pages_rows(path):
    t = pq.read_table(path)
    return [
        (r["url"], r["warc_ts"].replace(tzinfo=dt.timezone.utc), r["html"])
        for r in t.to_pylist()
    ]


def test_warc_roundtrip_plain_and_gzip(spark, tiny_pages_path, tmp_path_factory):
    from nadry_spark.sources.warc import read_warc, write_warc

    rows = _pages_rows(tiny_pages_path)
    base = tmp_path_factory.mktemp("warc")
    plain = str(base / "a.warc")
    gz = str(base / "b.warc.gz")
    write_warc(plain, rows[: len(rows) // 2])
    write_warc(gz, rows[len(rows) // 2 :], per_record_gzip=True)  # multi-member

    got = {
        r["url"]: (r["warc_ts"], bytes(r["html"]))
        for r in read_warc(spark, str(base) + "/*").collect()
    }
    assert len(got) == len(rows)
    for url, ts, html in rows:
        gts, ghtml = got[url]
        assert ghtml == html, url  # byte-identical payloads
        assert gts.replace(tzinfo=dt.timezone.utc) == ts.replace(microsecond=0).replace(
            tzinfo=dt.timezone.utc
        ) or gts == ts


def test_warc_skips_malformed_records(spark, tmp_path_factory):
    from nadry_spark.sources.warc import parse_warc_bytes, warc_record

    good = warc_record(
        "https://ok.example.com/", dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc),
        b"<html>fine</html>",
    )
    junk = b"WARC/1.0\r\nWARC-Type: response\r\nContent-Length: notanint\r\n\r\n"
    req = warc_record("https://ok.example.com/", dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc), b"x")
    req = req.replace(b"WARC-Type: response", b"WARC-Type: request")
    truncated = good[: len(good) // 2]
    out = list(parse_warc_bytes(junk + req + good + truncated))
    assert [u for u, _, _ in out] == ["https://ok.example.com/"]
    assert out[0][2] == b"<html>fine</html>"


def test_warc_feeds_index_build_identically(spark, tiny_pages_path, tmp_path_factory):
    """Index built from the WARC form of the corpus == index built from
    parquet (doc_id = sha2(url) and extraction runs on identical html
    bytes)."""
    from nadry_spark.operators.index_build import build_index
    from nadry_spark.sources.catalog import read_table

    base = tmp_path_factory.mktemp("warcidx")
    from nadry_spark.sources.warc import write_warc

    warc_path = str(base / "corpus.warc.gz")
    write_warc(warc_path, _pages_rows(tiny_pages_path), per_record_gzip=True)

    pages_w = read_table(spark, f"warc:{warc_path}")
    pages_p = spark.read.parquet(tiny_pages_path)
    post_w, _ = build_index(pages_w)
    post_p, _ = build_index(pages_p)
    got = {(r["term"], r["doc_id"]): (r["tf"], r["weight"]) for r in post_w.collect()}
    want = {(r["term"], r["doc_id"]): (r["tf"], r["weight"]) for r in post_p.collect()}
    assert got == want


def test_warc_streaming_decode_bounded_memory(tmp_path_factory):
    """A multi-member archive whose decompressed size is many times the
    largest record parses with a resident buffer bounded by ONE record
    + one chunk — the parser must never inflate the whole archive
    (stats['max_buf'] is the observed high-water mark), and the first
    record must come out before the underlying file is fully read
    (incremental yield, not parse-after-slurp)."""
    import gzip
    import io

    from nadry_spark.sources.warc import (
        _decompressed_stream,
        parse_warc_stream,
        warc_record,
        write_warc,
    )

    import numpy as np

    base = tmp_path_factory.mktemp("warcbig")
    path = str(base / "big.warc.gz")
    # INCOMPRESSIBLE bodies: compressed size ~= raw size, so the
    # bytes_read assertion below actually measures incremental reads
    body = b"<html>" + np.random.RandomState(7).bytes(200_000) + b"</html>"
    n = 100  # ~20 MB raw AND compressed
    ts = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)
    write_warc(
        path,
        ((f"https://ex.com/{i}", ts, body) for i in range(n)),
        per_record_gzip=True,
    )

    class CountingReader(io.BufferedReader):
        bytes_read = 0

        def read(self, *a, **kw):
            out = super().read(*a, **kw)
            CountingReader.bytes_read += len(out) if out else 0
            return out

    CountingReader.bytes_read = 0
    f = CountingReader(open(path, "rb").detach())
    stats: dict = {}
    gen = parse_warc_stream(_decompressed_stream(f), chunk_size=1 << 18, stats=stats)

    first = next(gen)
    assert first[0] == "https://ex.com/0"
    # incremental: yielding record 0 read (compressed) ~1 member worth,
    # nowhere near the whole file
    fsize = os.path.getsize(path)
    assert CountingReader.bytes_read < fsize / 4, (CountingReader.bytes_read, fsize)

    rest = list(gen)
    assert len(rest) == n - 1
    assert all(r[2] == body for r in [first] + rest)
    f.close()

    record_size = len(warc_record("https://ex.com/0", ts, body))
    decompressed_total = n * record_size
    # the memory bound: one record + one chunk + slack, NOT the archive
    assert stats["max_buf"] < record_size + (1 << 18) + 65536, stats
    assert stats["max_buf"] < decompressed_total / 20

    # multi-member whole-buffer path agrees (parse_warc_bytes wrapper)
    with open(path, "rb") as fh:
        raw = fh.read()
    from nadry_spark.sources.warc import parse_warc_bytes

    urls = [u for u, _, _ in parse_warc_bytes(raw)]
    assert urls == [f"https://ex.com/{i}" for i in range(n)]


def test_warc_streaming_ingest_to_serving(spark, tiny_pages_path, tmp_path_factory):
    """End-to-end: WARC archives dropped into a watched directory ->
    stream_ingest (warc: scheme) -> finalize + compact -> serving index
    that answers rank-identically to a batch build from the parquet
    form of the same corpus."""
    from nadry_spark.operators.bm25 import bm25_topk
    from nadry_spark.sources.segments import SegmentIndex, build_segments
    from nadry_spark.sources.warc import write_warc
    from nadry_spark.streaming.ingest import (
        compact_serving,
        finalize_incremental,
        stream_ingest,
    )

    base = tmp_path_factory.mktemp("warcstream")
    warc_dir = base / "archives"
    warc_dir.mkdir()
    rows = _pages_rows(tiny_pages_path)
    half = len(rows) // 2
    write_warc(str(warc_dir / "a.warc.gz"), rows[:half], per_record_gzip=True)
    write_warc(str(warc_dir / "b.warc.gz"), rows[half:], per_record_gzip=True)

    out_dir = str(base / "out")
    ckpt = str(base / "ckpt")
    stream_ingest(
        spark, f"warc:{warc_dir}", out_dir, ckpt, max_files_per_trigger=1
    ).awaitTermination(300)
    root = str(base / "serving")
    assert len(finalize_incremental(spark, out_dir, root)["segments"]) == 2
    state = compact_serving(spark, out_dir, root, n_shards=3)
    idx_s = SegmentIndex(spark, os.path.join(root, state["segments"][0]))

    batch_dir = str(base / "batch_seg")
    build_segments(
        spark, spark.read.parquet(tiny_pages_path), batch_dir, n_shards=3,
        shards_per_job=3,
    )
    idx_b = SegmentIndex(spark, batch_dir)
    assert idx_s.meta["n_docs"] == idx_b.meta["n_docs"]
    for q in ["news report update", "table batch value sort"]:
        got = [
            (r["doc_id"], round(r["score"], 9))
            for r in bm25_topk(idx_s, q, k=10).collect()
        ]
        want = [
            (r["doc_id"], round(r["score"], 9))
            for r in bm25_topk(idx_b, q, k=10).collect()
        ]
        assert got == want, q


def test_warc_stream_chunk_size_invariance():
    """Property: the streaming parser yields IDENTICAL records whatever
    the chunk size (boundaries can land inside magics, headers, bodies)
    and whatever junk rides between records. Pure Python — no Spark."""
    import io

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from nadry_spark.sources.warc import (
        _decompressed_stream,
        parse_warc_stream,
        warc_record,
    )

    ts = dt.datetime(2025, 3, 2, tzinfo=dt.timezone.utc)

    @settings(max_examples=40, deadline=None)
    @given(
        bodies=st.lists(st.binary(min_size=0, max_size=300), min_size=1, max_size=8),
        junk=st.binary(max_size=64),
        chunk=st.integers(min_value=1, max_value=512),
        gzip_per_record=st.booleans(),
    )
    def check(bodies, junk, chunk, gzip_per_record):
        import gzip as _gz

        from hypothesis import assume

        # inter-record junk that itself contains a record magic is
        # (identically) mis-scanned by both parsers — out of scope here
        assume(b"WARC/" not in junk)

        parts = []
        for i, b in enumerate(bodies):
            rec = warc_record(f"https://ex.com/{i}", ts, b)
            parts.append(_gz.compress(rec) if gzip_per_record else junk + rec)
        data = b"".join(parts)

        def parse(chunk_size):
            stream = _decompressed_stream(io.BufferedReader(io.BytesIO(data)))
            return list(parse_warc_stream(stream, chunk_size=chunk_size))

        got = parse(chunk)
        want = parse(1 << 20)
        assert got == want
        assert [r[2] for r in got] == list(bodies)

    check()


def test_warc_hostile_inputs_bounded_and_survivable():
    """Corrupt gzip tails end the stream instead of raising (records
    before the corruption survive); an unterminated header block is
    discarded, not buffered to EOF; an oversized Content-Length is
    streaming-discarded without growing the resident buffer, and
    records AFTER it still parse."""
    import gzip
    import io

    from nadry_spark.sources.warc import (
        _decompressed_stream,
        parse_warc_stream,
        warc_record,
    )

    ts = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)
    rec_a = warc_record("https://ok.example.com/a", ts, b"<html>a</html>")
    rec_b = warc_record("https://ok.example.com/b", ts, b"<html>b</html>")

    # corrupt gzip tail: member A intact, member B truncated mid-stream.
    # No exception; A survives byte-exact; whatever decoded of B before
    # the cut is at most a prefix (here the cut lands mid-deflate-block,
    # so B is lost entirely)
    gz_b = gzip.compress(rec_b)
    data = gzip.compress(rec_a) + gz_b[: len(gz_b) // 2]
    out = list(
        parse_warc_stream(_decompressed_stream(io.BufferedReader(io.BytesIO(data))))
    )
    assert out[0] == ("https://ok.example.com/a", ts, b"<html>a</html>")
    for url, _, html in out[1:]:
        assert url == "https://ok.example.com/b"
        assert b"<html>b</html>".startswith(html)

    # corrupt bytes MID-archive: A + junk + C — A must survive; the
    # decoder stops at the corruption (no crash)
    rec_c = warc_record("https://ok.example.com/c", ts, b"<html>c</html>")
    data = gzip.compress(rec_a) + b"\x1f\x8b<garbage>" + gzip.compress(rec_c)
    out = list(
        parse_warc_stream(_decompressed_stream(io.BufferedReader(io.BytesIO(data))))
    )
    assert out[0] == ("https://ok.example.com/a", ts, b"<html>a</html>")

    # unterminated header: magic + no CRLFCRLF for > _MAX_HEADER_BYTES,
    # then a good record — parser must discard the garbage and recover
    from nadry_spark.sources.warc import _MAX_HEADER_BYTES

    junk = b"WARC/1.0\r\nWARC-Type: response" + b"x" * (_MAX_HEADER_BYTES + 4096)
    stats: dict = {}
    out = list(
        parse_warc_stream(
            io.BufferedReader(io.BytesIO(junk + rec_a)), stats=stats
        )
    )
    assert [u for u, _, _ in out] == ["https://ok.example.com/a"]
    assert stats["max_buf"] <= _MAX_HEADER_BYTES + (1 << 20) + 65536

    # hostile Content-Length: oversized record skipped by streaming
    # discard (buffer stays ~one chunk), following record parses
    big_body = b"z" * 500_000
    rec_big = warc_record("https://ok.example.com/big", ts, big_body)
    stats = {}
    out = list(
        parse_warc_stream(
            io.BufferedReader(io.BytesIO(rec_big + rec_b)),
            chunk_size=4096,
            stats=stats,
            max_record_bytes=10_000,
        )
    )
    assert [u for u, _, _ in out] == ["https://ok.example.com/b"]
    assert stats["max_buf"] < 64_000, stats  # never buffered the big body


def test_wet_roundtrip_and_mixed_index(spark, tmp_path_factory):
    """WET conversion records round-trip into pages rows with text
    filled and html empty; extract_documents' text fall-through
    indexes them next to html rows, and the WET docs are queryable."""
    from nadry_spark.operators.index_build import extract_documents
    from nadry_spark.sources.catalog import read_table
    from nadry_spark.sources.warc import read_wet, write_wet

    base = tmp_path_factory.mktemp("wet")
    ts = dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc)
    wet_rows = [
        (f"https://wet{i}.example/page", ts, f"zebra quokka text number {i}")
        for i in range(6)
    ]
    plain = str(base / "a.warc.wet")
    gz = str(base / "b.warc.wet.gz")
    write_wet(plain, wet_rows[:3])
    write_wet(gz, wet_rows[3:], per_record_gzip=True)

    pages = read_wet(spark, str(base) + "/*")
    got = {r["url"]: r for r in pages.collect()}
    assert len(got) == 6
    for url, ts0, text in wet_rows:
        assert bytes(got[url]["html"]) == b""
        assert got[url]["text"] == text
    # catalog scheme dispatch
    assert read_table(spark, "wet:" + str(base) + "/*").count() == 6

    # mixed corpus: html rows extract, WET rows fall through
    html_page = [
        (
            "https://html.example/x",
            ts,
            b"<html><head><title>T</title></head><body><p>alpha beta</p></body></html>",
            "",
            "",
        )
    ]
    mixed = pages.unionByName(
        spark.createDataFrame(
            html_page,
            "url string, warc_ts timestamp, html binary, text string, lang string",
        )
    )
    docs = {r["url"]: r for r in extract_documents(mixed).collect()}
    assert len(docs) == 7
    assert docs["https://wet0.example/page"]["content"] == "zebra quokka text number 0"
    assert docs["https://wet0.example/page"]["title"] == ""
    assert docs["https://wet0.example/page"]["links"] == []
    assert "zebra" in docs["https://wet0.example/page"]["tokens_body"]
    assert docs["https://html.example/x"]["title"] == "T"

    # end-to-end: build + query a WET-only corpus
    from nadry_spark.plans.query import QueryEngine
    from nadry_spark.sources.segments import SegmentIndex, build_segments

    out = str(base / "seg")
    build_segments(spark, pages, out, n_shards=2, shards_per_job=2)
    eng = QueryEngine(SegmentIndex(spark, out), scoring="bm25")
    res = eng.search("quokka zebra")
    assert res["totalResults"] == 6


def test_wet_streaming_ingest(spark, tmp_path_factory):
    """wet:<dir> streaming scheme: drop a WET archive in the watch
    dir, one ingest cycle indexes its text rows."""
    from nadry_spark.sources.warc import write_wet
    from nadry_spark.streaming.ingest import stream_ingest

    base = tmp_path_factory.mktemp("wetstream")
    watch = base / "in"
    watch.mkdir()
    ts = dt.datetime(2024, 4, 1, tzinfo=dt.timezone.utc)
    write_wet(
        str(watch / "seg.warc.wet.gz"),
        [(f"https://ws{i}.example/", ts, f"wombat stream doc {i}") for i in range(4)],
        per_record_gzip=True,
    )
    out = str(base / "out")
    q = stream_ingest(spark, "wet:" + str(watch), out, str(base / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    docs = spark.read.parquet(out + "/staged/batch_*/docmap")
    rows = {r["url"]: r for r in docs.collect()}
    assert len(rows) == 4
    assert all(u.startswith("https://ws") for u in rows)
