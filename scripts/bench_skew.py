#!/usr/bin/env python3
"""Skew evidence for the salted per-host top-k (SURVEY.md §4, VERDICT r2
item 8): a mega-host wave — 85% of all eligible rows on ONE host — run
through the identical wave job with salting off (salt_partitions=1, the
naive row_number-per-host shape: the hot host's whole candidate set
funnels through one task) vs on (two-phase salted ranking,
operators/politeness.py). Prints one JSON line; bench_scaling.py folds it
into BENCH.md.

Env: SPARK_GRAFT_CPUS (default 32), SKEW_ROWS (default 1_500_000).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n = int(os.environ.get("SKEW_ROWS", "1500000"))
    mega_pct = 85

    from pyspark.sql import functions as F

    from basic_common_crawl_pipeline_spark.plans.config import CrawlConfig
    from basic_common_crawl_pipeline_spark.plans.wave import (
        empty_seen,
        frontier_from_seeds,
        run_wave,
    )
    from basic_common_crawl_pipeline_spark.session import get_spark

    spark = get_spark(
        app_name="bench-skew", master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 8),
    )
    spark.sparkContext.setLogLevel("ERROR")

    # mega_pct% of urls live on host mega.test; the rest spread over 37
    # hosts. Tiny html so the politeness ranking — not extraction — is
    # the measured stage.
    ids = spark.range(n)
    url = F.when(
        F.pmod(F.col("id"), F.lit(100)) < mega_pct,
        F.concat(F.lit("http://mega.test/doc/"), F.col("id").cast("string")),
    ).otherwise(
        F.format_string(
            "http://src%d.test/doc/%d", F.pmod(F.col("id"), F.lit(37)),
            F.col("id"),
        )
    )
    pages = ids.select(
        url.alias("url"),
        F.lit("2024-07-22 12:00:00").cast("timestamp").alias("warc_ts"),
        F.lit(b"<html><p>x</p></html>").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.lit("eng").alias("lang"),
        F.lit(200).alias("status"),
    ).repartition(F.col("url")).persist()
    n_pages = pages.count()
    seeds = pages.select("url", F.lit(0).alias("priority"))
    frontier = frontier_from_seeds(seeds).localCheckpoint(eager=True)
    n_frontier = frontier.count()
    robots = spark.createDataFrame(
        [("mega.test", 1.0, [])]
        + [(f"src{i}.test", 1.0, []) for i in range(37)],
        "host string, crawl_delay double, disallow array<string>",
    ).persist()
    robots.count()

    result: dict = {
        "rows": n_pages,
        "frontier": n_frontier,
        "mega_share": mega_pct / 100,
        "cpus": cpus,
    }
    for label, salt in (("unsalted_sec", 1), ("salted_sec", 8)):
        best = None
        for _ in range(2):
            t0 = time.time()
            out = run_wave(
                spark, frontier, empty_seen(spark), pages, robots, wave=0,
                config=CrawlConfig(wave_seconds=16.0, salt_partitions=salt),
                frontier_count=n_frontier,
            )
            sec = time.time() - t0
            best = sec if best is None else min(best, sec)
            result["selected"] = out.metrics["selected"]
            for c in out.cached:
                c.unpersist()
        result[label] = round(best, 3)
    result["salted_speedup"] = round(
        result["unsalted_sec"] / result["salted_sec"], 3
    )
    print(json.dumps(result))


if __name__ == "__main__":
    main()
