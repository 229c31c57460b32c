"""Snapshot store: append-table (Iceberg-append) semantics — grow-only
tables commit O(delta) per wave as a manifest path list, full-replacement
tables keep one path, and replay is idempotent."""

from __future__ import annotations

from basic_common_crawl_pipeline_spark.plans.config import CrawlConfig
from basic_common_crawl_pipeline_spark.plans.crawl import run_crawl
from basic_common_crawl_pipeline_spark.sources.pages import (
    corpus_to_spark,
    synth_corpus,
)
from basic_common_crawl_pipeline_spark.sources.snapshots import SnapshotStore


def test_append_tables_commit_only_deltas(spark, tmp_path):
    corpus = synth_corpus(n_pages=150, n_hosts=4, seed=3, n_seeds=6)
    pages, seeds, robots = corpus_to_spark(spark, corpus)
    store = SnapshotStore(str(tmp_path / "snap"))
    state = run_crawl(
        spark, pages, seeds, robots,
        CrawlConfig(wave_seconds=8.0, max_waves=3, salt_partitions=3),
        store=store,
    )
    assert state.wave == 3
    manifest = store.read_manifest()
    for name in ("seen", "crawl_order", "results"):
        entry = manifest["tables"][name]
        assert "paths" in entry and len(entry["paths"]) == 3, (name, entry)
        # each wave's delta path, not a cumulative rewrite
        assert [f"snap-{i}" in p for i, p in enumerate(entry["paths"], 1)] == [
            True, True, True
        ]
    # the union of deltas equals the logical table
    seen_rows = store.read_table(spark, "seen").count()
    total_order = store.read_table(spark, "crawl_order").count()
    assert total_order == sum(m["selected"] for m in state.metrics)
    assert seen_rows >= total_order
    # frontier stays a full-replacement table
    assert "path" in manifest["tables"]["frontier"]


def test_replayed_wave_does_not_duplicate_append_paths(spark, tmp_path):
    corpus = synth_corpus(n_pages=150, n_hosts=4, seed=3, n_seeds=6)
    pages, seeds, robots = corpus_to_spark(spark, corpus)
    store = SnapshotStore(str(tmp_path / "snap"))
    cfg2 = CrawlConfig(wave_seconds=8.0, max_waves=2, salt_partitions=3)
    run_crawl(spark, pages, seeds, robots, cfg2, store=store)
    # simulate a crash after wave 2's commit was lost: CURRENT back to 1
    with open(store._current_path, "w") as f:
        f.write("1")
    cfg3 = CrawlConfig(wave_seconds=8.0, max_waves=3, salt_partitions=3)
    state = run_crawl(spark, pages, seeds, robots, cfg3, store=store, resume=True)
    manifest = store.read_manifest()
    assert state.wave == 3
    for name in ("seen", "crawl_order", "results"):
        paths = manifest["tables"][name]["paths"]
        assert len(paths) == len(set(paths)) == 3
    order = store.read_table(spark, "crawl_order")
    seqs = [r["seq"] for r in order.orderBy("seq").collect()]
    assert seqs == list(range(1, len(seqs) + 1))  # no duplicate slots


def test_compaction_rewrites_delta_chain(spark, tmp_path):
    corpus = synth_corpus(n_pages=150, n_hosts=4, seed=3, n_seeds=6)
    pages, seeds, robots = corpus_to_spark(spark, corpus)
    store = SnapshotStore(str(tmp_path / "snap"))
    run_crawl(
        spark, pages, seeds, robots,
        CrawlConfig(wave_seconds=8.0, max_waves=3, salt_partitions=3),
        store=store,
    )
    before = {
        r["seq"]: r["url"]
        for r in store.read_table(spark, "crawl_order").collect()
    }
    store.compact(spark, "crawl_order")
    manifest = store.read_manifest()
    assert len(manifest["tables"]["crawl_order"]["paths"]) == 1
    after = {
        r["seq"]: r["url"]
        for r in store.read_table(spark, "crawl_order").collect()
    }
    assert after == before
    # resuming after compaction still works (frontier drained -> no-op run)
    state = run_crawl(
        spark, pages, seeds, robots,
        CrawlConfig(wave_seconds=8.0, max_waves=3, salt_partitions=3),
        store=store, resume=True,
    )
    assert state.wave == 3


def test_metrics_table_handles_sparse_dicts(spark):
    """Snapshots committed by older versions may hold per-wave dicts
    with only (wave, selected); the metrics table must still build with
    nulls for the absent counters, so such crawls stay resumable."""
    from basic_common_crawl_pipeline_spark.plans.crawl import metrics_table

    df = metrics_table(spark, [{"wave": 0, "selected": 7}])
    row = df.collect()[0]
    assert row["wave"] == 0 and row["selected"] == 7
    assert row["candidates"] is None and row["fetched_bytes"] is None


def test_auto_compaction_long_crawl(spark, tmp_path):
    """A 20-wave crawl with compact_every_n_waves=5 keeps every
    append-table's manifest path list bounded by the compaction interval
    (not the wave count), matches the single-node oracle exactly, and
    resumes across a compaction boundary byte-identically."""
    import dataclasses

    from basic_common_crawl_pipeline_spark.plans.crawl import collect_outputs
    from basic_common_crawl_pipeline_spark.plans.oracle import run_oracle

    corpus = synth_corpus(n_pages=400, n_hosts=5, seed=11, n_seeds=8)
    cfg = CrawlConfig(
        wave_seconds=1.0, max_waves=20, salt_partitions=2,
        compact_every_n_waves=5,
    )
    want = run_oracle(corpus.pages, corpus.seeds, corpus.robots, cfg)
    pages, seeds, robots = corpus_to_spark(spark, corpus)
    # 20 tiny waves: shrink per-stage task count for the duration (the
    # determinism suite already pins output equality across partition
    # counts); restored below
    prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")

    store = SnapshotStore(str(tmp_path / "compacted"))
    state = run_crawl(spark, pages, seeds, robots, cfg, store=store)
    assert state.wave == 20  # genuinely a long crawl
    manifest = store.read_manifest()
    for name in ("seen", "crawl_order", "results"):
        paths = manifest["tables"][name]["paths"]
        # last compaction at snapshot 20 folds the chain to one base
        # path; the bound stays ≤ interval in case a final partial
        # window ever exists
        assert len(paths) == 1, (name, paths)
    order, results, seen = collect_outputs(spark, store)
    assert [(r["seq"], r["wave"], r["url"]) for r in order] == [
        (r["seq"], r["wave"], r["url"]) for r in want.crawl_order
    ]
    assert seen == want.seen
    assert {r["canon_url"]: r["text"] for r in results} == want.extracted

    # resume across a compaction boundary (snapshot 5 compacted in the
    # first half) reproduces the uninterrupted run exactly
    store2 = SnapshotStore(str(tmp_path / "split"))
    half = dataclasses.replace(cfg, max_waves=7)
    try:
        run_crawl(spark, pages, seeds, robots, half, store=store2)
        run_crawl(spark, pages, seeds, robots, cfg, store=store2, resume=True)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_sp)
    order2, results2, seen2 = collect_outputs(spark, store2)
    assert [(r["seq"], r["wave"], r["url"]) for r in order2] == [
        (r["seq"], r["wave"], r["url"]) for r in want.crawl_order
    ]
    assert seen2 == want.seen


def test_time_travel_reads_reproduce_run_prefixes(spark, tmp_path):
    """Iceberg-semantics TIME TRAVEL: ``read_table(..., snapshot=k)``
    reads any table exactly as of snapshot k — equal to a fresh crawl
    stopped after k waves (which resume-determinism already proves is
    the canonical prefix). Pins the manifest-pointer contract: older
    manifests stay readable after later commits, and append-table reads
    at k see exactly the first k deltas."""
    corpus = synth_corpus(n_pages=150, n_hosts=4, seed=3, n_seeds=6)
    pages, seeds, robots = corpus_to_spark(spark, corpus)
    store = SnapshotStore(str(tmp_path / "tt"))
    run_crawl(
        spark, pages, seeds, robots,
        CrawlConfig(wave_seconds=8.0, max_waves=3, salt_partitions=3),
        store=store,
    )
    assert store.current_snapshot() == 3

    def order_rows(df):
        return sorted(
            (r["seq"], r["wave"], r["url"])
            for r in df.select("seq", "wave", "url").collect()
        )

    for k in (1, 2, 3):
        prefix_store = SnapshotStore(str(tmp_path / f"prefix{k}"))
        run_crawl(
            spark, pages, seeds, robots,
            CrawlConfig(wave_seconds=8.0, max_waves=k, salt_partitions=3),
            store=prefix_store,
        )
        got_order = order_rows(store.read_table(spark, "crawl_order", snapshot=k))
        want_order = order_rows(prefix_store.read_table(spark, "crawl_order"))
        assert got_order == want_order, f"crawl_order mismatch at snapshot {k}"
        assert {r["wave"] for r in store.read_table(
            spark, "crawl_order", snapshot=k).collect()} == set(range(k))
        got_seen = {
            r["canon_url"]
            for r in store.read_table(spark, "seen", snapshot=k).collect()
        }
        want_seen = {
            r["canon_url"]
            for r in prefix_store.read_table(spark, "seen").collect()
        }
        assert got_seen == want_seen, f"seen mismatch at snapshot {k}"
