"""Property test for the as-of join: on random corpora — duplicate
timestamps, null value columns, single-key and multi-key, empty sides —
the two-phase shape and a plain-Python reference must agree exactly, at
more than one shuffle-partition count (partition boundaries are the
two-phase shape's only moving part, and the round-4 carry bug lived
exactly there)."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from basic_common_crawl_pipeline_spark.operators.temporal import asof_join

KEYS = ["a", "b", "c"]

left_rows = st.lists(
    st.tuples(
        st.sampled_from(KEYS),
        st.integers(min_value=0, max_value=30),  # ts — collisions likely
    ),
    min_size=0,
    max_size=40,
)
right_rows = st.lists(
    st.tuples(
        st.sampled_from(KEYS),
        st.integers(min_value=0, max_value=30),
        st.one_of(st.none(), st.integers(min_value=-5, max_value=5)),  # value
    ),
    min_size=0,
    max_size=25,
)

L_SCHEMA = StructType(
    [
        StructField("host", StringType()),
        StructField("ts", LongType()),
        StructField("lid", LongType()),
    ]
)
R_SCHEMA = StructType(
    [
        StructField("host", StringType()),
        StructField("ts", LongType()),
        StructField("rid", LongType()),
        StructField("value", LongType()),
    ]
)


def _reference(lrows, rrows):
    by_key: dict = {}
    for i, (k, ts, v) in enumerate(rrows):
        by_key.setdefault(k, []).append((ts, i, v))
    out = {}
    for j, (k, ts) in enumerate(lrows):
        cands = [c for c in by_key.get(k, []) if c[0] <= ts]
        if cands:
            best = max(cands)  # max (ts, rid) = the documented contract
            out[j] = (best[1], best[2])
        else:
            out[j] = (None, None)
    return out


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(lrows=left_rows, rrows=right_rows)
def test_asof_strategies_agree_with_reference(spark, lrows, rrows):
    left = spark.createDataFrame(
        [(k, ts, j) for j, (k, ts) in enumerate(lrows)], L_SCHEMA
    )
    right = spark.createDataFrame(
        [(k, ts, i, v) for i, (k, ts, v) in enumerate(rrows)], R_SCHEMA
    )
    want = _reference(lrows, rrows)

    old = spark.conf.get("spark.sql.shuffle.partitions")
    caches: list = []
    try:
        for n_parts in ("3", "11"):
            spark.conf.set("spark.sql.shuffle.partitions", n_parts)
            got = {
                r["lid"]: (r["rid_asof"], r["value_asof"])
                for r in asof_join(
                    left, right, on="host",
                    value_cols=("rid", "value"), right_order="rid",
                    cache=caches,
                ).collect()
            }
            assert got == want, (n_parts, got, want)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
        for df in caches:  # retire the per-call persisted unions
            df.unpersist()
