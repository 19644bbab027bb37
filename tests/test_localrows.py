"""local_rows_df hands driver rows back as one SQL VALUES text: every
value must come back from collect() exactly as it went in, and the
collect must run no Spark job."""

import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from nadry_spark.localrows import local_rows_df

STRINGS = st.one_of(
    st.text(max_size=20),
    st.sampled_from(["'", "''", "\\", "\\'", ":p0_0", "a'b\\c\"d", "é€😀", "X'00'", "NULL", ") AS t(x) --"]),
)
LONGS = st.integers(min_value=-(2 ** 63), max_value=2 ** 63 - 1)
DOUBLES = st.one_of(
    st.floats(allow_nan=True, allow_infinity=True),
    st.sampled_from([float("nan"), float("inf"), float("-inf"), -0.0, 0.0, 5e-324, -5e-324,
                     2.2250738585072014e-308, 1.7976931348623157e308, 0.1]),
)
ROWS = st.lists(
    st.tuples(st.none() | STRINGS, st.none() | LONGS, st.none() | DOUBLES),
    min_size=1, max_size=8,
)


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return a == b and math.copysign(1.0, a) == math.copysign(1.0, b)
    return a == b and type(a) is type(b)


@settings(max_examples=60, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=ROWS)
def test_local_rows_round_trip_without_a_job(spark, rows):
    sc = spark.sparkContext
    df = local_rows_df(spark, "s string, n long, d double", rows)
    sc.setJobGroup("localrows", "localrows")
    try:
        got = df.collect()
        jobs = list(sc.statusTracker().getJobIdsForGroup("localrows"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs == []
    assert len(got) == len(rows)
    for g, want in zip(got, rows):
        assert all(_same(a, b) for a, b in zip(tuple(g), want)), (tuple(g), want)


def test_local_rows_schema_and_empty(spark):
    df = local_rows_df(spark, "doc_id string, doc_no long, score double", [("a", 1, 0.5)])
    assert [(f.name, f.dataType.simpleString()) for f in df.schema] == [
        ("doc_id", "string"), ("doc_no", "bigint"), ("score", "double")]
    empty = local_rows_df(spark, "doc_id string, doc_no long", [])
    assert empty.collect() == [] and empty.columns == ["doc_id", "doc_no"]
