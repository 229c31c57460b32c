#!/usr/bin/env python3
"""Benchmark harness (driver contract): runs the headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": ..., "value": total_sec, "unit": "sec",
     "queries": {name: sec, ...}, "sf": ...,
     "throughput": {"frontier_urls_per_sec": ..., ...}}

The headline metric (BASELINE.json) is frontier-expansion throughput:
URLs fetched+extracted per second by the crawl wave job. Scaling evidence
(local[8] vs local[32]) is produced by scripts/bench_scaling.py.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "24g")

    from basic_common_crawl_pipeline_spark.plans import catalog
    from basic_common_crawl_pipeline_spark.plans.config import CrawlConfig
    from basic_common_crawl_pipeline_spark.plans.crawl import run_crawl
    from basic_common_crawl_pipeline_spark.session import get_spark

    spark = get_spark(
        app_name="bench", master=f"local[{cpus}]",
        shuffle_partitions=max(int(cpus), 8),
    )
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}
    throughput: dict[str, float] = {}

    def timed(name: str, fn, trials: int = 1):
        best = None
        for _ in range(trials):
            t0 = time.time()
            result = fn()
            sec = time.time() - t0
            best = sec if best is None else min(best, sec)
        timings[name] = round(best, 3)
        return result

    # -- flagship: multi-wave frontier expansion over derived pages -------
    replicate = int(os.environ.get("SPARK_GRAFT_CRAWL_REPLICATE", "50"))
    pages, seeds, robots = catalog.pages_from_documents(
        spark, sf_dir, replicate=replicate, seeds_mod=3
    )
    n_pages = pages.count()  # memoized persisted by pages_from_documents
    # the seed list and robots table are crawl INPUTS — deriving them from
    # the documents fixture (a serial 2-partition crossJoin scan) is setup,
    # not crawl work; materialize them before the clock like the corpus
    seeds = seeds.localCheckpoint(eager=True)
    robots = robots.localCheckpoint(eager=True)
    throughput["corpus_pages"] = n_pages

    # best of 2 (shared host: single-run timings swing ±30%)
    crawl_sec, urls = None, 0
    for _trial in range(2):
        t0 = time.time()
        state = run_crawl(
            spark, pages, seeds, robots,
            CrawlConfig(wave_seconds=65536.0, max_waves=3, salt_partitions=8),
        )
        trial_sec = time.time() - t0
        urls = sum(m["selected"] for m in state.metrics)
        crawl_sec = trial_sec if crawl_sec is None else min(crawl_sec, trial_sec)
    timings["crawl_3waves"] = round(crawl_sec, 3)
    throughput["frontier_urls_per_sec"] = round(urls / crawl_sec, 2)
    throughput["crawl_urls"] = urls

    # -- steady-state wave throughput: ONE huge wave -----------------------
    # At 10^10-URL scale a wave holds millions of URLs and runs for
    # minutes — the ~seconds of driver/stage scheduling latency per wave
    # is noise there but dominates small multi-wave runs in local mode.
    # This entry measures the representative unit: a single large wave
    # (every page seeded, budgets unbounded).
    from basic_common_crawl_pipeline_spark.plans.wave import (
        empty_seen,
        frontier_from_seeds,
        run_wave,
    )

    big_rep = int(os.environ.get("SPARK_GRAFT_BIGWAVE_REPLICATE", "150"))
    bpages, bseeds, _brobots = catalog.pages_from_documents(
        spark, sf_dir, replicate=big_rep, seeds_mod=1
    )
    n_bpages = bpages.count()  # memoized persisted by pages_from_documents
    bfrontier = frontier_from_seeds(bseeds).localCheckpoint(True)
    n_bfrontier = bfrontier.count()
    brobots = _brobots.persist()
    brobots.count()

    # best of 2 trials: this sandbox is a shared host and single-run
    # timings swing ±30% with neighbor load
    big_sec, big_urls = None, 0
    for _trial in range(2):
        t0 = time.time()
        bout = run_wave(
            spark, bfrontier, empty_seen(spark), bpages, brobots, wave=0,
            config=CrawlConfig(wave_seconds=1 << 20, salt_partitions=8),
        )
        bout.new_frontier.localCheckpoint(True)
        trial_sec = time.time() - t0
        big_urls = bout.metrics["selected"]
        big_sec = trial_sec if big_sec is None else min(big_sec, trial_sec)
    timings["crawl_bigwave"] = round(big_sec, 3)
    throughput["bigwave_corpus_pages"] = n_bpages
    throughput["bigwave_frontier"] = n_bfrontier
    throughput["bigwave_urls"] = big_urls
    throughput["bigwave_urls_per_sec"] = round(big_urls / big_sec, 2)
    # release through the memo (a bare unpersist would leave the fixture
    # cache handing out a cold frame for this key)
    catalog.release_fixture(spark, sf_dir, replicate=big_rep, seeds_mod=1)

    # -- worker hot loop in isolation: full-corpus extract+links ----------
    # (the reference worker's per-record loop, rust/src/bin/worker.rs:40-68,
    # as one Arrow-vectorized stage — the purest scaling surface)
    from basic_common_crawl_pipeline_spark.plans.wave import (
        _EXTRACT_SCHEMA,
        _extract_batches,
    )
    from pyspark.sql import functions as F

    ext_sec = None
    for _trial in range(2):
        t0 = time.time()
        n_extracted_full = (
            pages.select(F.col("url").alias("canon_url"), "html")
            .mapInPandas(_extract_batches, schema=_EXTRACT_SCHEMA)
            .filter(F.col("text").isNotNull())
            .count()
        )
        trial_sec = time.time() - t0
        ext_sec = trial_sec if ext_sec is None else min(ext_sec, trial_sec)
    timings["extract_full_corpus"] = round(ext_sec, 3)
    throughput["extract_pages_per_sec"] = round(n_pages / ext_sec, 2)
    throughput["extract_ok"] = n_extracted_full

    # -- single-node sequential baseline (the reference's execution model:
    # one worker, one record at a time) on a 5k-page sample ---------------
    from basic_common_crawl_pipeline_spark.functions.extract import extract_text
    from basic_common_crawl_pipeline_spark.functions.links import extract_links

    sample = pages.select("url", "html").limit(5000).collect()
    t0 = time.time()
    for row in sample:
        extract_text(row.html)
        extract_links(row.html, row.url)
    seq_sec = time.time() - t0
    throughput["sequential_pages_per_sec"] = round(len(sample) / seq_sec, 2)
    throughput["spark_vs_sequential_speedup"] = round(
        throughput["extract_pages_per_sec"]
        / throughput["sequential_pages_per_sec"],
        2,
    )

    # -- relational / dedup / similarity / streaming headliners -----------
    q = catalog.queries()
    for name in (
        "a1_pricing_summary",
        "j3_star_join",
        "b4_topk_per_key",
        "b3_global_order",
        "dedup_exact",
        "dedup_minhash_lsh",
        "dedup_simhash",
        "dedup_simhash_pairs",
        "ann_cosine_topk",
        "ann_cosine_topk_bucketed",
        "ann_cosine_topk_ivf",
        "ann_pq_topk",
        "emb_neardup_pairs",
        "link_pagerank",
        "j5_range_join",
        "rollup_hypertable",
        "text_quality",
        "stream_windowed_events",
        "warc_ingest",
        "warc_range_fetch",
        "batcher_slice",
        "text_vocab_topk",
    ):
        # best of 2 per query: shared-host noise swings single runs ±3×
        timed(name, lambda n=name: q[n](spark, sf_dir).count(), trials=2)

    # j4 must aggregate the CARRIED columns — a bare count() provably
    # prunes the whole LOCF Window from the plan (verified: the count
    # plan contains zero Window nodes), timing only the range shuffle.
    timed(
        "j4_asof_join",
        lambda: q["j4_asof_join"](spark, sf_dir)
        .agg(F.sum("policy_value"), F.max("policy_event"))
        .collect(),
        trials=2,
    )

    # -- training-corpus prep (round-4 additions). Aggregate the COMPUTED
    # columns, not count(*): a bare count lets Catalyst prune the
    # decontamination left join / the packing window entirely (the same
    # pruning trap the asof bench hit — CLAUDE.md round-4).
    timed(
        "text_decontaminate",
        lambda: q["text_decontaminate"](spark, sf_dir)
        .agg(F.sum("n_matched"), F.sum(F.col("contaminated").cast("int")))
        .collect(),
        trials=2,
    )
    timed(
        "text_repetition",
        lambda: q["text_repetition"](spark, sf_dir)
        .agg(F.sum("top_count"), F.sum("n_distinct"))
        .collect(),
        trials=2,
    )
    timed(
        "emb_semantic_dedup",
        lambda: q["emb_semantic_dedup"](spark, sf_dir)
        .agg(F.sum(F.col("kept").cast("int")))
        .collect(),
        trials=2,
    )
    timed(
        "text_sample_rebalance",
        lambda: q["text_sample_rebalance"](spark, sf_dir).count(),
        trials=2,
    )
    timed(
        "text_sequence_packing",
        lambda: q["text_sequence_packing"](spark, sf_dir)
        .agg(F.sum("start_off"), F.max("pack_id"))
        .collect(),
        trials=2,
    )
    # sum over the REASSEMBLED text length: forces the mark join AND the
    # per-doc array_sort reassembly (n_kept alone would let the collect_
    # list aggregate be pruned).
    timed(
        "text_line_dedup",
        lambda: q["text_line_dedup"](spark, sf_dir)
        .agg(F.sum(F.length("text_deduped")), F.sum("n_kept"))
        .collect(),
        trials=2,
    )
    timed(
        "text_lm_quality",
        lambda: q["text_lm_quality"](spark, sf_dir)
        .agg(F.sum("sum_freq"), F.sum("n_oov"))
        .collect(),
        trials=2,
    )
    # sum score/hits: forces the train aggregate, the broadcast weight
    # join, and the per-doc scoring sum.
    timed(
        "text_quality_classifier",
        lambda: q["text_quality_classifier"](spark, sf_dir)
        .agg(F.sum("score_int"), F.sum("n_hits"), F.sum("predict"))
        .collect(),
        trials=2,
    )
    # sum reassembled length + span stats: forces the window mark, the
    # island merge, and the per-doc reassembly (a bare count would
    # prune all three).
    timed(
        "text_span_dedup",
        lambda: q["text_span_dedup"](spark, sf_dir)
        .agg(
            F.sum(F.length("text_deduped")),
            F.sum("n_spans"),
            F.sum("n_dup_tokens"),
        )
        .collect(),
        trials=2,
    )
    # sum keep/n_near/best_jaccard: forces BOTH legs (exact fingerprint
    # join and the LSH candidate→Jaccard-verify chain) — keep alone
    # would let the near-leg aggregates be pruned.
    timed(
        "dedup_incremental",
        lambda: q["dedup_incremental"](spark, sf_dir)
        .agg(F.sum("keep"), F.sum("n_near"), F.sum("best_jaccard"))
        .collect(),
        trials=2,
    )
    timed(
        "text_pii_redact",
        lambda: q["text_pii_redact"](spark, sf_dir)
        .agg(F.sum(F.length("text_redacted")), F.sum("n_emails"))
        .collect(),
        trials=2,
    )
    # BPE training runs its 6 merge rounds (one tiny collect each) at
    # DataFrame-construction time — the callable itself IS the training
    # job; the count just materializes the 6 returned rules.
    timed(
        "text_bpe_train",
        lambda: q["text_bpe_train"](spark, sf_dir).count(),
        trials=2,
    )
    # sum n_pieces/max fragmentation: forces the broadcast dictionary
    # join and the per-doc aggregation (count(*) would prune the join —
    # doc ids are unique).
    timed(
        "text_bpe_tokenize",
        lambda: q["text_bpe_tokenize"](spark, sf_dir)
        .agg(F.sum("n_pieces"), F.max("max_word_pieces"))
        .collect(),
        trials=2,
    )
    timed(
        "text_bm25_topk",
        lambda: q["text_bm25_topk"](spark, sf_dir).collect(),
        trials=2,
    )
    # sum the computed columns: a bare count would let Catalyst prune
    # the partition-local window and the broadcast base join (the
    # (pid, source) base key is provably unique).
    timed(
        "text_token_budget_sample",
        lambda: q["text_token_budget_sample"](spark, sf_dir)
        .agg(F.sum("cum_before"), F.sum(F.col("kept").cast("int")))
        .collect(),
        trials=2,
    )
    # sum the session aggregates so the per-session measures survive
    # (the grouping itself cannot be pruned, but the sums could).
    timed(
        "w2_session_window",
        lambda: q["w2_session_window"](spark, sf_dir)
        .agg(F.sum("n_events"), F.sum("sum_cents"), F.max("span_us"))
        .collect(),
        trials=2,
    )
    # sum the COMPUTED cluster column: a bare count(*) would let
    # Catalyst prune the k-fold assignment expression entirely (the
    # training-ops bench rule). The callable runs the 2 update rounds
    # (one groupBy job + k·64-row collect each) at construction time.
    timed(
        "emb_kmeans",
        lambda: q["emb_kmeans"](spark, sf_dir)
        .agg(F.sum("cluster"), F.count("*"))
        .collect(),
        trials=2,
    )
    # graph_cc_chain is deliberately NOT in the suite: its cost is ~5
    # star-contraction rounds of fixed per-action latency (data-size-
    # independent at these sfs), which link_pagerank's iterative timing
    # already represents without double-counting the driver-loop floor.

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "frontier-expansion throughput + operator suite wall time",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": float(sf),
                "cpus": int(cpus),
                "throughput": throughput,
            }
        )
    )


if __name__ == "__main__":
    main()
