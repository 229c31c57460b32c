"""Bucketed-table layout for co-located joins (SURVEY.md §3 / the
brief's "repartition()/bucketing for co-located joins" technique,
spelled as a real Spark `bucketBy` table rather than an ad-hoc
repartition).

At 100 TB the pages table is joined on `url` every wave (fetch join,
seen anti-join, CDX enrichment). Hash-bucketing BOTH sides by the join
key at WRITE time moves the shuffle from query time to ingest time,
once: two tables bucketed by the same key into the same bucket count
join with NO Exchange on either side (Spark recognizes the
`HashPartitioning(url, n)` output of a bucketed scan); the join's
remaining Sort nodes are partition-LOCAL (bounded by bucket size, with
no shuffle behind them). In-bucket `sortBy` additionally enables
min/max row-group skipping, and with
`spark.sql.legacy.bucketedTableScan.outputOrdering=true` (off by
default in Spark 3+) the sorts elide entirely when each bucket is one
file. That is exactly the "co-located join" the reference's
single-process loop gets for free and a 1000-executor cluster has to
plan for.

Bucketed writes require the session catalog (`saveAsTable`); passing
``path`` keeps the data external under the caller's directory, so tests
and ephemeral layouts stay in tmp dirs. Readers go through
``spark.table`` — a plain `read.parquet` would see the files but NOT
the bucket metadata (it lives in the catalog), silently reintroducing
the exchange. `spark.sql.sources.bucketing.enabled` is on by default;
the plan-pin test asserts the no-Exchange property rather than trusting
configuration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed_table(
    df: DataFrame,
    name: str,
    bucket_cols: list[str],
    n_buckets: int = 16,
    path: str | None = None,
) -> None:
    """Write ``df`` as a parquet table hash-bucketed and in-bucket sorted
    on ``bucket_cols``. Overwrites an existing table of the same name.
    ``path`` makes the table external (data under ``path``, metadata in
    the session catalog).

    ``df`` is first repartitioned to exactly ``n_buckets`` on the bucket
    key (Spark's repartition and bucketing share the Murmur3 hash, so
    tasks map 1:1 onto buckets): ONE file per bucket, which is the
    precondition for the reader to report the in-bucket sort order and
    elide the join's Sort — with many files per bucket only the Exchange
    is saved."""
    df = df.repartition(n_buckets, *[df[c] for c in bucket_cols])
    writer = df.write.format("parquet").mode("overwrite")
    if path is not None:
        writer = writer.option("path", path)
    writer.bucketBy(n_buckets, *bucket_cols).sortBy(*bucket_cols).saveAsTable(name)


def read_bucketed_table(spark: SparkSession, name: str) -> DataFrame:
    """Catalog read — REQUIRED for the bucket metadata to reach the
    planner (`read.parquet(path)` on the same files plans an Exchange)."""
    return spark.table(name)


def drop_bucketed_table(spark: SparkSession, name: str) -> None:
    spark.sql(f"DROP TABLE IF EXISTS {name}")
