"""Determinism under varying parallelism (SURVEY.md §5 item 3): the crawl
is a deterministic function of its inputs — partition counts must not
change crawl order, seen set, or extracted bytes."""

from __future__ import annotations

from basic_common_crawl_pipeline_spark.plans import wave
from basic_common_crawl_pipeline_spark.plans.config import CrawlConfig
from basic_common_crawl_pipeline_spark.plans.crawl import collect_outputs, run_crawl
from basic_common_crawl_pipeline_spark.sources.pages import (
    corpus_to_spark,
    synth_corpus,
)
from basic_common_crawl_pipeline_spark.sources.snapshots import SnapshotStore

CONFIG = CrawlConfig(wave_seconds=8.0, max_waves=3, salt_partitions=5)


def _run(spark, corpus, root, shuffle_partitions):
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        pages, seeds, robots = corpus_to_spark(spark, corpus)
        store = SnapshotStore(root)
        run_crawl(spark, pages, seeds, robots, CONFIG, store=store)
        return collect_outputs(spark, store)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_crawl_invariant_to_partitioning(spark, tmp_path, monkeypatch):
    """Also invariant to the wave-size gate: with SMALL_WAVE_ROWS=0 every
    wave takes the large-wave path (salted per-host top-k, range-
    partitioned global sort) and must give the same crawl."""
    corpus = synth_corpus(n_pages=200, n_hosts=5, seed=7, n_seeds=8)
    o3, r3, s3 = _run(spark, corpus, str(tmp_path / "p3"), 3)
    o17, r17, s17 = _run(spark, corpus, str(tmp_path / "p17"), 17)
    monkeypatch.setattr(wave, "SMALL_WAVE_ROWS", 0)
    ob, rb, sb = _run(spark, corpus, str(tmp_path / "big"), 8)
    for o, r, s in ((o17, r17, s17), (ob, rb, sb)):
        assert [(x["seq"], x["wave"], x["url"]) for x in o] == [
            (x["seq"], x["wave"], x["url"]) for x in o3
        ]
        assert {x["canon_url"]: x["text"] for x in r} == {
            x["canon_url"]: x["text"] for x in r3
        }
        assert s == s3
    assert len(o3) > 10

