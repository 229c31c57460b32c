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


def test_append_after_whole_write_starts_its_chain(spark, tmp_path):
    """A table committed whole (in ``tables``) and then appended to: the
    append's chain starts from the whole write's one path, reads at
    every snapshot see exactly that snapshot's rows, and replaying the
    append keeps one copy of its path."""
    store = SnapshotStore(str(tmp_path / "snap"))
    store.commit(1, {}, append_tables={"t": spark.range(0, 3)})
    store.commit(2, {}, append_tables={"t": spark.range(3, 5)})
    store.commit(3, {"t": spark.range(0, 6)})
    store.commit(4, {}, append_tables={"t": spark.range(6, 8)})
    store.commit(4, {}, append_tables={"t": spark.range(6, 8)})  # replay
    assert store.current_snapshot() == 4
    whole = store.read_manifest(3)["tables"]["t"]
    assert whole == {"path": str(tmp_path / "snap" / "t" / "snap-3")}
    assert store.read_manifest(4)["tables"]["t"] == {
        "paths": [whole["path"], str(tmp_path / "snap" / "t" / "snap-4")]
    }
    for k, n in ((1, 3), (2, 5), (3, 6), (4, 8)):
        ids = sorted(r.id for r in store.read_table(spark, "t", snapshot=k).collect())
        assert ids == list(range(n)), k


def test_metrics_table_handles_sparse_dicts(spark):
    """Snapshots committed by older versions may hold per-wave dicts
    with only (wave, selected); the metrics table must still build with
    nulls for the absent counters, so such crawls stay resumable."""
    from basic_common_crawl_pipeline_spark.plans.crawl import metrics_table

    df = metrics_table(spark, [{"wave": 0, "selected": 7}])
    row = df.collect()[0]
    assert row["wave"] == 0 and row["selected"] == 7
    assert row["candidates"] is None and row["fetched_bytes"] is None


def test_seen_fold_long_crawl(spark, tmp_path):
    """A 20-wave crawl at a listing threshold of 3: seen folds whole
    inside the commit of every wave whose predecessor's chain already
    holds 3 paths, so no manifest names more than 3 seen paths, while
    crawl_order and results keep their whole delta chains. The crawl
    matches the single-node oracle exactly, and a run stopped at a fold
    snapshot and resumed commits the same chain shapes and the same
    crawl."""
    import dataclasses

    from basic_common_crawl_pipeline_spark.plans.crawl import collect_outputs
    from basic_common_crawl_pipeline_spark.plans.oracle import run_oracle

    corpus = synth_corpus(n_pages=400, n_hosts=5, seed=11, n_seeds=8)
    cfg = CrawlConfig(wave_seconds=1.0, max_waves=20, salt_partitions=2)
    want = run_oracle(corpus.pages, corpus.seeds, corpus.robots, cfg)
    pages, seeds, robots = corpus_to_spark(spark, corpus)
    # 20 tiny waves: shrink per-stage task count for the duration (the
    # determinism suite already pins output equality across partition
    # counts); both settings restored below
    conf = {
        "spark.sql.shuffle.partitions": "4",
        "spark.sql.sources.parallelPartitionDiscovery.threshold": "3",
    }
    old = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    store = SnapshotStore(str(tmp_path / "folded"))
    split = SnapshotStore(str(tmp_path / "split"))
    try:
        state = run_crawl(spark, pages, seeds, robots, cfg, store=store)
        half = dataclasses.replace(cfg, max_waves=7)
        run_crawl(spark, pages, seeds, robots, half, store=split)
        run_crawl(spark, pages, seeds, robots, cfg, store=split, resume=True)
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    assert state.wave == 20  # genuinely a long crawl

    def chains(st):
        """Per snapshot: seen's path count, and whether it was whole."""
        out = []
        for k in range(1, 21):
            entry = st.read_manifest(k)["tables"]["seen"]
            out.append((len(entry.get("paths", [entry.get("path")])),
                        "path" in entry))
        return out

    got = chains(store)
    assert [k for k, (_, whole) in enumerate(got, 1) if whole] == [
        4, 7, 10, 13, 16, 19
    ]
    assert max(n for n, _ in got) == 3
    for name in ("crawl_order", "results"):
        assert len(store.read_manifest()["tables"][name]["paths"]) == 20
    assert chains(split) == got
    for st in (store, split):
        order, results, seen = collect_outputs(spark, st)
        assert [(r["seq"], r["wave"], r["url"]) for r in order] == [
            (r["seq"], r["wave"], r["url"]) for r in want.crawl_order
        ]
        assert seen == want.seen
        assert {r["canon_url"]: r["text"] for r in results} == want.extracted


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
