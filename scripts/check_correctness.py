#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run every
``queries()`` entry and compare against its ``oracle_sql()`` in DuckDB —
row count, sorted column names, and an order-insensitive value hash.

Usage: python3 scripts/check_correctness.py [sf_dir] [name ...] [--arrow]
Exit 0 iff all queries with oracles match.

``--arrow`` materializes each oracle through Arrow (``rel.arrow()`` →
``to_pylist``) instead of ``fetchall()`` — the hostile-harness path
where DuckDB HUGEINT/DECIMAL become decimal.Decimal and disagree with
Spark's Python ints. Use it to reproduce the external driver's
materialization locally (round-4 verdict #2).
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def normalize(value):
    if isinstance(value, float):
        # canonical float repr: kill -0.0 and float32 artifacts
        if value == 0:
            return "0.0"
        return repr(round(value, 9))
    if value is None:
        return ""
    return str(value)


def value_hash(rows, columns):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(
        "\x01".join(normalize(row[i]) for i in order) for row in rows
    )
    digest = hashlib.sha256()
    for line in lines:
        digest.update(line.encode())
        digest.update(b"\x02")
    return digest.hexdigest()


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--arrow"]
    use_arrow = "--arrow" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    import __spark_entry__ as entry_mod
    from basic_common_crawl_pipeline_spark.plans.catalog import release_caller
    from basic_common_crawl_pipeline_spark.session import get_spark

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    # iterate in queries() dict order — the same order the external
    # driver sees — so a truncated/budgeted local run exercises the
    # identical prefix the gate-ordering in catalog.py was built for
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        finally:
            # the rows are collected: drop the caches, views and
            # directories the entry handed its caller
            release_caller(spark)
        if name not in oracles:
            print(f"rows  {name}: {len(s_rows)} rows (no oracle) "
                  f"[{time.time()-t0:.1f}s]")
            continue
        try:
            rel = con.sql(oracles[name])
            d_cols = rel.columns
            # The external driver materializes the oracle via pandas/
            # Arrow, where DuckDB HUGEINT (any uncast sum()) becomes
            # float64/decimal128 and hash-mismatches vs Spark BIGINT
            # even though fetchall() would agree.  Fail loudly here so
            # the class is locally reproducible (round-4 verdict #1).
            from basic_common_crawl_pipeline_spark.plans.catalog import (
                DRIVER_HOSTILE_ORACLE_TYPES,
            )

            bad_types = [
                f"{c}:{t}" for c, t in zip(rel.columns, rel.types)
                if str(t).upper().startswith(DRIVER_HOSTILE_ORACLE_TYPES)
            ]
            if use_arrow:
                tbl = rel.arrow()
                cols = tbl.column_names
                pylists = [tbl.column(c).to_pylist() for c in cols]
                d_rows = list(zip(*pylists)) if pylists else []
            else:
                d_rows = rel.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            continue
        problems = []
        if bad_types:
            problems.append(
                f"oracle emits driver-hostile types {bad_types} "
                "(CAST ... AS BIGINT/DOUBLE)"
            )
        if len(s_rows) != len(d_rows):
            problems.append(f"rows {len(s_rows)} vs {len(d_rows)}")
        if sorted(s_cols) != sorted(d_cols):
            problems.append(f"cols {sorted(s_cols)} vs {sorted(d_cols)}")
        if not problems and value_hash(s_rows, s_cols) != value_hash(d_rows, d_cols):
            problems.append("value hash mismatch")
            # print first differing rows for debugging
            s_set = {
                tuple(normalize(v) for v in row) for row in
                [[r[s_cols.index(c)] for c in sorted(s_cols)] for r in s_rows]
            }
            d_set = {
                tuple(normalize(v) for v in row) for row in
                [[r[d_cols.index(c)] for c in sorted(d_cols)] for r in d_rows]
            }
            only_s = list(s_set - d_set)[:3]
            only_d = list(d_set - s_set)[:3]
            if only_s:
                print(f"        spark-only: {only_s}")
            if only_d:
                print(f"        duckdb-only: {only_d}")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)} [{time.time()-t0:.1f}s]")
            failures.append(name)
        else:
            print(f"ok    {name}: {len(s_rows)} rows [{time.time()-t0:.1f}s]")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
