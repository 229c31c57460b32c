"""Spark-free scan of every catalog oracle's DuckDB result schema.

The external correctness gate materializes oracle results via pandas /
Arrow, where DuckDB HUGEINT (the type of any uncast ``sum()`` /
windowed ``SUM``) becomes float64 / decimal128(38,0) — so an oracle
that is value-correct under ``fetchall()`` hash-mismatches at the gate
(round-4 verdict: this was the entire red set — rollup_hypertable,
text_repetition, text_sequence_packing).  This test pins the contract
from CLAUDE.md: no oracle relation may contain HUGEINT / UHUGEINT /
DECIMAL columns.

Binding a relation (``con.sql(sql).types``) plans but never executes,
so this covers all ~80 oracles in seconds.
"""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as entry_mod
from basic_common_crawl_pipeline_spark.plans.catalog import (
    DRIVER_HOSTILE_ORACLE_TYPES,
)

SF_DIR = "/root/testdata/sf0.001"
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

BAD_PREFIXES = DRIVER_HOSTILE_ORACLE_TYPES


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return c


def test_no_oracle_emits_driver_hostile_types(con):
    oracles = entry_mod.oracle_sql()
    assert oracles, "oracle_sql() returned nothing"
    offenders = {}
    for name, sql in oracles.items():
        rel = con.sql(sql)
        bad = [
            f"{c}:{t}"
            for c, t in zip(rel.columns, rel.types)
            if str(t).upper().startswith(BAD_PREFIXES)
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, (
        "oracles whose DuckDB schema materializes as float64/decimal128 "
        f"through the driver's pandas/Arrow path: {offenders} — "
        "CAST(... AS BIGINT) (or DOUBLE) in plans/catalog.py"
    )


def test_declared_bench_suite_is_the_r6_suite():
    """The catalog entries that declare a bench action are queries()
    entries, and together with bench.py's three crawl/extract leaves
    they are exactly the suite BENCH_r06.json recorded."""
    import json
    import os

    from basic_common_crawl_pipeline_spark.plans.catalog import BENCH

    assert set(BENCH) <= set(entry_mod.queries())
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCH_r06.json")) as f:
        r06 = json.load(f)["parsed"]["queries"]
    leaves = {"crawl_3waves", "crawl_bigwave", "extract_full_corpus"}
    assert len(r06) == 43
    assert set(BENCH) | leaves == set(r06)
    assert not set(BENCH) & leaves
