#!/usr/bin/env python3
"""spark-submit entry point (north_rule: "runs via spark-submit
--py-files"). Ship the package as a zip:

    python3 scripts/make_pyfiles_zip.py          # → dist/pyfiles.zip
    spark-submit --py-files dist/pyfiles.zip main.py crawl \\
        --pages /path/pages.parquet --seeds /path/seeds.parquet \\
        --robots /path/robots.parquet --store /path/warehouse \\
        --waves 8 [--resume]

    spark-submit --py-files dist/pyfiles.zip main.py demo \\
        --sf-dir /root/testdata/sf0.001 --store /tmp/warehouse

``demo`` derives pages/seeds/robots from the testdata documents table so
the whole flow runs with no external inputs.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    parser = argparse.ArgumentParser(description=__doc__)
    sub = parser.add_subparsers(dest="cmd", required=True)

    crawl = sub.add_parser("crawl", help="run a frontier crawl")
    crawl.add_argument("--pages", required=True)
    crawl.add_argument("--seeds", required=True)
    crawl.add_argument("--robots", required=True)
    crawl.add_argument("--store", required=True)
    crawl.add_argument("--waves", type=int, default=8)
    crawl.add_argument("--wave-seconds", type=float, default=60.0)
    crawl.add_argument("--resume", action="store_true")
    crawl.add_argument(
        "--metrics-port", type=int, default=None,
        help="serve Prometheus text exposition at :PORT/metrics while the "
        "crawl runs (the reference's tracing_and_metrics endpoint; its "
        "scrape_configs.yml points at :9000/:9001)",
    )
    crawl.add_argument(
        "--metrics-host", default="127.0.0.1",
        help="bind host for the metrics endpoint (loopback by default; "
        "the endpoint is unauthenticated — pass 0.0.0.0 explicitly for "
        "a real scrape config)",
    )

    demo = sub.add_parser("demo", help="crawl pages derived from testdata")
    demo.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    demo.add_argument("--store", required=True)
    demo.add_argument("--waves", type=int, default=3)
    demo.add_argument("--metrics-port", type=int, default=None)

    prep = sub.add_parser(
        "prep",
        help="training-data prep: exact dedup -> repetition gate "
        "[-> decontaminate] -> BPE train/encode -> pack -> id shards",
    )
    prep.add_argument(
        "--documents", required=True,
        help="parquet with (doc_id bigint, text string)",
    )
    prep.add_argument("--out", required=True, help="shard output dir")
    prep.add_argument(
        "--benchmark", default=None,
        help="optional parquet with a text column; documents sharing "
        "word n-grams with it are dropped (decontamination)",
    )
    prep.add_argument("--merges", type=int, default=6)
    prep.add_argument("--budget", type=int, default=512)
    prep.add_argument("--seqs-per-shard", type=int, default=1024)

    args = parser.parse_args()

    from pyspark.sql import SparkSession

    from basic_common_crawl_pipeline_spark.plans.config import CrawlConfig
    from basic_common_crawl_pipeline_spark.plans.crawl import run_crawl
    from basic_common_crawl_pipeline_spark.sources.snapshots import SnapshotStore

    spark = SparkSession.builder.appName("crawl-frontier").getOrCreate()
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    if args.cmd == "prep":
        _run_prep(spark, args)
        return

    if args.cmd == "crawl":
        # a plain parquet read has no url partitioning: run_crawl
        # partitions and caches it once per crawl, not once per wave
        pages = spark.read.parquet(args.pages)
        seeds = spark.read.parquet(args.seeds)
        robots = spark.read.parquet(args.robots)
        config = CrawlConfig(
            wave_seconds=args.wave_seconds,
            max_waves=args.waves,
        )
        resume = args.resume
    else:
        from basic_common_crawl_pipeline_spark.plans.catalog import (
            pages_from_documents,
        )

        pages, seeds, robots = pages_from_documents(spark, args.sf_dir)
        config = CrawlConfig(wave_seconds=16.0, max_waves=args.waves)
        resume = False

    server = None
    if args.metrics_port is not None:
        from basic_common_crawl_pipeline_spark.plans.crawl import MetricsServer

        server = MetricsServer(
            port=args.metrics_port,
            host=getattr(args, "metrics_host", "127.0.0.1"),
        )
        print(
            "serving metrics at "
            f"http://{getattr(args, 'metrics_host', '127.0.0.1')}:"
            f"{server.port}/metrics"
        )
    try:
        state = run_crawl(
            spark, pages, seeds, robots, config,
            store=SnapshotStore(args.store), resume=resume,
            progress=server.update if server is not None else None,
        )
    finally:
        if server is not None:
            server.close()
    print(json.dumps({"waves": state.wave, "metrics": state.metrics}))


def _run_prep(spark, args) -> None:
    """The training-data pipeline as one spark-submit job: the same
    operators the catalog exposes, chained — exact dedup (keep the
    canonical copy), Gopher repetition gate, optional benchmark
    decontamination, BPE train + token-ID encode, fixed-budget sequence
    packing, and a shard-partitioned parquet sink a dataloader reads
    with partition pruning. Prints ONE summary JSON line."""
    import json as _json

    from pyspark.sql import functions as F

    from basic_common_crawl_pipeline_spark.functions.textstats import (
        repetition_stats,
    )
    from basic_common_crawl_pipeline_spark.operators.dedup import exact_dedup
    from basic_common_crawl_pipeline_spark.operators.tokenizer import (
        bpe_encode,
        bpe_train,
    )
    from basic_common_crawl_pipeline_spark.operators.training import (
        decontaminate,
        pack_token_ids,
    )

    docs = spark.read.parquet(args.documents).select("doc_id", "text")
    n_in = docs.count()

    # 1. exact dedup: keep each group's canonical (min-id) copy. NO
    # broadcast hint: the keep set is O(corpus) cardinality (one id per
    # distinct document) — let the planner pick the join strategy.
    keep = exact_dedup(docs).select(F.col("keep_id").alias("doc_id"))
    docs = docs.join(keep, "doc_id", "left_semi")

    # 2. Gopher repetition gate: drop docs whose top 2-gram dominates
    rep = repetition_stats("text")
    docs = docs.withColumn("__r", rep).filter(
        ~(
            (F.col("__r.n_grams") >= 10)
            & (F.col("__r.top_count") * 10 >= F.col("__r.n_grams"))
        )
    ).drop("__r")

    # 3. optional benchmark decontamination
    if args.benchmark is not None:
        bench = spark.read.parquet(args.benchmark)
        flags = decontaminate(docs, bench).select("doc_id", "contaminated")
        docs = (
            docs.join(flags, "doc_id", "left")
            .filter(~F.coalesce(F.col("contaminated"), F.lit(False)))
            .drop("contaminated")
        )
    docs = docs.persist()
    n_kept = docs.count()
    if n_kept == 0:
        # nothing survived: an empty partitionBy parquet write has no
        # readable schema — report honestly instead of stack-tracing
        docs.unpersist()
        print(
            _json.dumps(
                {
                    "docs_in": n_in,
                    "docs_kept": 0,
                    "merges": 0,
                    "sequences": 0,
                    "tokens": 0,
                    "shards": 0,
                    # nothing was written: report null so a consumer
                    # can't pick up a stale shard dir from an earlier
                    # run at the same path (ADVICE r5)
                    "out": None,
                }
            )
        )
        return

    # 4. tokenize: train on the survivors, encode to ids
    cache: list = []
    merges, words = bpe_train(docs, num_merges=args.merges, cache=cache)
    dict_ckpt = words.select("word", "syms").localCheckpoint()
    for f in cache:
        f.unpersist()
    enc = bpe_encode(docs, dict_ckpt)

    # 5. pack into fixed-budget sequences and shard the ids
    pack_cache: list = []
    packed = pack_token_ids(
        enc, ["doc_id"], budget=args.budget, cache=pack_cache
    )
    shards = packed.withColumn(
        "shard_id",
        F.floor(F.col("pack_id") / F.lit(args.seqs_per_shard)).cast("long"),
    ).persist()
    summary = shards.agg(
        F.count("*").alias("n_seqs"),
        F.sum("n_ids").alias("n_tokens"),
        F.countDistinct("shard_id").alias("n_shards"),
    ).collect()[0]
    if summary["n_seqs"] > 0:
        # (an all-empty-text corpus encodes to zero sequences; an empty
        # partitionBy write would have no readable schema)
        shards.write.mode("overwrite").partitionBy("shard_id").parquet(
            args.out
        )
    shards.unpersist()
    for f in pack_cache:
        f.unpersist()
    docs.unpersist()
    print(
        _json.dumps(
            {
                "docs_in": n_in,
                "docs_kept": n_kept,
                "merges": len(merges),
                "sequences": summary["n_seqs"],
                "tokens": int(summary["n_tokens"] or 0),
                "shards": summary["n_shards"],
                # null when the write was skipped (zero sequences) —
                # see the n_kept == 0 branch above
                "out": args.out if summary["n_seqs"] > 0 else None,
            }
        )
    )


if __name__ == "__main__":
    main()
