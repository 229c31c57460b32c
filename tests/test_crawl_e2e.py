"""End-to-end: the Spark crawl engine must match the single-node oracle
exactly — crawl ordering, URL-seen set, per-wave metrics, and
byte-identical extracted text per url (BASELINE.json invariants;
SURVEY.md §5 item 2)."""

from __future__ import annotations

import pytest

from basic_common_crawl_pipeline_spark.plans.config import CrawlConfig
from basic_common_crawl_pipeline_spark.plans.crawl import collect_outputs, run_crawl
from basic_common_crawl_pipeline_spark.plans.oracle import run_oracle
from basic_common_crawl_pipeline_spark.sources.pages import (
    corpus_to_spark,
    synth_corpus,
)
from basic_common_crawl_pipeline_spark.sources.snapshots import SnapshotStore

CONFIG = CrawlConfig(wave_seconds=8.0, max_waves=5, salt_partitions=4)


@pytest.fixture(scope="module")
def corpus():
    return synth_corpus(n_pages=300, n_hosts=6, seed=42, n_seeds=10)


@pytest.fixture(scope="module")
def oracle_result(corpus):
    return run_oracle(corpus.pages, corpus.seeds, corpus.robots, CONFIG)


@pytest.fixture(scope="module")
def spark_outputs(spark, corpus, tmp_path_factory):
    pages, seeds, robots = corpus_to_spark(spark, corpus)
    store = SnapshotStore(str(tmp_path_factory.mktemp("snapshots")))
    state = run_crawl(spark, pages, seeds, robots, CONFIG, store=store)
    order, results, seen = collect_outputs(spark, store)
    return state, order, results, seen


def test_crawl_order_matches_oracle(oracle_result, spark_outputs):
    _, order, _, _ = spark_outputs
    got = [(r["seq"], r["wave"], r["url"]) for r in order]
    want = [(r["seq"], r["wave"], r["url"]) for r in oracle_result.crawl_order]
    assert got == want
    assert len(got) > 20  # the crawl actually went somewhere


def test_extracted_text_byte_identical(oracle_result, spark_outputs):
    _, _, results, _ = spark_outputs
    got = {r["canon_url"]: r["text"] for r in results}
    assert got == oracle_result.extracted
    # spot-check true byte identity through encoding
    for url, text in list(oracle_result.extracted.items())[:20]:
        assert got[url].encode() == text.encode()


def test_seen_set_matches_oracle(oracle_result, spark_outputs):
    _, _, _, seen = spark_outputs
    assert seen == oracle_result.seen


def test_wave_metrics_match_oracle(oracle_result, spark_outputs):
    state, _, _, _ = spark_outputs
    keys = [
        "wave", "candidates", "disallowed", "misses", "ineligible",
        "selected", "deferred", "extracted", "extract_failures", "discovered",
        "fetched_bytes", "frontier_size",
    ]
    got = [{k: m[k] for k in keys} for m in state.metrics]
    want = [{k: m[k] for k in keys} for m in oracle_result.metrics]
    assert got == want


def test_resume_from_snapshot(spark, corpus, oracle_result, tmp_path):
    """Interrupt after 2 waves, resume → identical final state
    (SURVEY.md §5 item 3)."""
    pages, seeds, robots = corpus_to_spark(spark, corpus)
    store = SnapshotStore(str(tmp_path / "snap"))
    half = CrawlConfig(wave_seconds=8.0, max_waves=2, salt_partitions=4)
    run_crawl(spark, pages, seeds, robots, half, store=store)
    assert store.current_snapshot() == 2
    state = run_crawl(spark, pages, seeds, robots, CONFIG, store=store, resume=True)
    order, results, seen = collect_outputs(spark, store)
    got = [(r["seq"], r["wave"], r["url"]) for r in order]
    want = [(r["seq"], r["wave"], r["url"]) for r in oracle_result.crawl_order]
    assert got == want
    assert seen == oracle_result.seen
    assert {r["canon_url"]: r["text"] for r in results} == oracle_result.extracted
    assert state.wave == CONFIG.max_waves or not state.frontier.take(1)


def test_every_snapshot_frontier_is_disjoint_from_seen(
    spark, corpus, oracle_result, tmp_path
):
    """The invariant the wave's step 1 relies on (plans/config.py), read
    back from the store: in every committed snapshot of a crawl whose
    seen folds every other wave (listing threshold 2), interrupted just
    before a fold and resumed, no frontier URL is in that snapshot's seen
    table. No manifest names more than 2 seen paths, and every table read
    at the fold snapshot and at the one after it equals a fresh crawl of
    that many waves."""
    import dataclasses
    from collections import Counter

    pages, seeds, robots = corpus_to_spark(spark, corpus)
    store = SnapshotStore(str(tmp_path / "snap"))
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        run_crawl(
            spark, pages, seeds, robots, dataclasses.replace(CONFIG, max_waves=2),
            store=store,
        )
        run_crawl(spark, pages, seeds, robots, CONFIG, store=store, resume=True)
    finally:
        spark.conf.set(key, old)
    order, results, seen = collect_outputs(spark, store)
    assert [(r["seq"], r["url"]) for r in order] == [
        (r["seq"], r["url"]) for r in oracle_result.crawl_order
    ]
    assert seen == oracle_result.seen
    assert {r["canon_url"]: r["text"] for r in results} == oracle_result.extracted
    last = store.current_snapshot()
    assert last == CONFIG.max_waves
    entries = [store.read_manifest(k)["tables"]["seen"] for k in range(1, last + 1)]
    assert ["path" in e for e in entries] == [False, False, True, False, True]
    assert all(len(e.get("paths", [e.get("path")])) <= 2 for e in entries)
    for k in range(1, last + 1):
        frontier = store.read_table(spark, "frontier", snapshot=k)
        seen = store.read_table(spark, "seen", snapshot=k)
        assert frontier.join(seen, "canon_url", "left_semi").count() == 0, k

    def rows(df):
        return Counter(df.select(*sorted(df.columns)).collect())

    for k in (3, 4):
        fresh = SnapshotStore(str(tmp_path / f"fresh{k}"))
        run_crawl(
            spark, pages, seeds, robots, dataclasses.replace(CONFIG, max_waves=k),
            store=fresh,
        )
        for name in ("frontier", "seen", "crawl_order", "results"):
            assert rows(store.read_table(spark, name, snapshot=k)) == rows(
                fresh.read_table(spark, name)
            ), (k, name)


def test_crawl_over_in_plan_rows_matches_oracle_and_leaves_no_copy(
    spark, corpus, oracle_result, tmp_path
):
    """Pages built with ``createDataFrame`` over pandas and cached
    url-partitioned (a LocalRelation leaf: run_crawl cuts that lineage
    before its once-per-crawl copy) crawl identically to the oracle, and
    the crawl leaves no new pages-sized block storage behind: the copy's
    cache and its local-checkpoint blocks are both released."""
    import pandas as pd

    plain, seeds, robots = corpus_to_spark(spark, corpus)
    pages = spark.createDataFrame(
        pd.DataFrame(corpus.pages)[plain.columns], plain.schema
    ).repartition(4, "url").persist()
    pages.count()
    jsc = spark.sparkContext._jsc.sc()

    def storage():
        return {
            r.id(): r.memSize() + r.diskSize() for r in jsc.getRDDStorageInfo()
        }

    before = storage()
    cache = pages._jdf.queryExecution().optimizedPlan().cacheBuilder()
    pages_size = before[cache.cachedColumnBuffers().id()]
    assert pages_size > 0
    store = SnapshotStore(str(tmp_path / "snap"))
    try:
        run_crawl(spark, pages, seeds, robots, CONFIG, store=store)
        order, results, seen = collect_outputs(spark, store)
        left = {
            rdd_id: size for rdd_id, size in storage().items()
            if rdd_id not in before and size >= pages_size / 2
        }
    finally:
        pages.unpersist()
    assert [(r["seq"], r["wave"], r["url"]) for r in order] == [
        (r["seq"], r["wave"], r["url"]) for r in oracle_result.crawl_order
    ]
    assert seen == oracle_result.seen
    assert {r["canon_url"]: r["text"] for r in results} == oracle_result.extracted
    assert left == {}


def test_crawl_over_deduped_multicapture_pages(spark, corpus, oracle_result, tmp_path):
    """A pages table with 3 captures per url (older duplicates), deduped
    at ingest via latest_capture, crawls identically to the clean table
    — AND passes the per-wave one-row-per-frontier-URL check that
    rejects the raw multi-capture table."""
    from pyspark.sql import functions as F

    from basic_common_crawl_pipeline_spark.sources.pages import latest_capture

    pages, seeds, robots = corpus_to_spark(spark, corpus)
    # duplicate every page twice with OLDER timestamps and corrupted html
    dup = pages
    for back in (1, 2):
        older = pages.withColumn(
            "warc_ts", F.col("warc_ts") - F.make_interval(days=F.lit(back))
        ).withColumn("html", F.lit(b"<html><p>stale</p></html>"))
        dup = dup.unionByName(older)
    with pytest.raises(ValueError, match="duplicate urls"):
        run_crawl(spark, dup, seeds, robots, CONFIG, store=SnapshotStore(
            str(tmp_path / "reject")))
    deduped = latest_capture(dup)
    store = SnapshotStore(str(tmp_path / "ok"))
    run_crawl(spark, deduped, seeds, robots, CONFIG, store=store)
    order, results, seen = collect_outputs(spark, store)
    assert [(r["seq"], r["url"]) for r in order] == [
        (r["seq"], r["wave"], r["url"])[0:1] + (r["url"],)
        for r in oracle_result.crawl_order
    ]
    assert seen == oracle_result.seen
    assert {r["canon_url"]: r["text"] for r in results} == oracle_result.extracted


def test_crawl_rejects_duplicate_robots_hosts(spark, corpus, tmp_path):
    """A robots table listing every host twice doubles each candidate in
    the wave's broadcast left join: the first wave raises instead of
    committing a crawl order with every URL twice."""
    pages, seeds, robots = corpus_to_spark(spark, corpus)
    store = SnapshotStore(str(tmp_path / "snap"))
    with pytest.raises(ValueError, match="robots table duplicate hosts"):
        run_crawl(
            spark, pages, seeds, robots.unionByName(robots), CONFIG,
            store=store,
        )
    assert store.current_snapshot() is None


def test_rejected_wave_commits_nothing_and_leaks_no_cache(
    spark, corpus, tmp_path
):
    """However a crawl ends, it leaves the persisted RDDs as it found
    them (its caches, the lazy checkpoint leaves of the seed frontier and
    of every wave, and the pages copy are all released) and a robots
    frame the caller cached stays cached: a completed 5-wave crawl, a
    fresh crawl over pages holding a second capture of every url
    (rejected at wave 0), and a crawl resumed over those pages (rejected
    at wave 2). A rejected wave commits nothing: CURRENT and its
    manifest are unchanged and no delta of that wave is written."""
    import dataclasses
    import os

    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    pages, seeds, robots = corpus_to_spark(spark, corpus)
    robots.persist().count()
    dup = pages.unionByName(
        pages.withColumn("html", F.lit(b"<html><p>stale</p></html>"))
    )
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())

    def left_as_found():
        return (
            set(jsc.getPersistentRDDs().keySet()) <= before
            and robots.storageLevel != StorageLevel.NONE
        )

    try:
        state = run_crawl(
            spark, pages, seeds, robots, CONFIG,
            store=SnapshotStore(str(tmp_path / "full")),
        )
        assert state.wave == CONFIG.max_waves
        assert left_as_found()

        fresh = SnapshotStore(str(tmp_path / "fresh"))
        with pytest.raises(ValueError, match="wave 0: .* duplicate urls"):
            run_crawl(spark, dup, seeds, robots, CONFIG, store=fresh)
        assert left_as_found()
        assert fresh.current_snapshot() is None

        store = SnapshotStore(str(tmp_path / "snap"))
        run_crawl(
            spark, pages, seeds, robots,
            dataclasses.replace(CONFIG, max_waves=2), store=store,
        )
        assert left_as_found()
        manifest = store.read_manifest()
        with pytest.raises(ValueError, match="wave 2: .* duplicate urls"):
            run_crawl(spark, dup, seeds, robots, CONFIG, store=store, resume=True)
        assert left_as_found()
        assert store.current_snapshot() == 2
        assert store.read_manifest() == manifest
        assert not os.path.exists(os.path.join(store.root, "seen", "snap-3"))
    finally:
        robots.unpersist()


def test_crawl_drained_before_wave_0_commits_nothing(spark, tmp_path):
    """Seeds that all fail canonicalization drain the crawl before wave
    0: nothing is committed, and the returned state, whose seed leaf the
    crawl has released, still reads as an empty frontier and seen set."""
    corpus = synth_corpus(n_pages=40, n_hosts=2, seed=3, n_seeds=4)
    pages, _, robots = corpus_to_spark(spark, corpus)
    seeds = spark.createDataFrame(
        [("mailto:a@b.c", 1), ("not a url", 1), ("ftp://x.com/a", 1)],
        "url string, priority int",
    )
    store = SnapshotStore(str(tmp_path / "snap"))
    state = run_crawl(spark, pages, seeds, robots, CONFIG, store=store)
    assert store.current_snapshot() is None
    assert (state.wave, state.metrics) == (0, [])
    assert state.frontier.count() == 0
    assert state.seen.count() == 0


def test_duplicates_of_unreached_urls_crawl_like_oracle(
    spark, corpus, oracle_result, tmp_path
):
    """Second captures (stale html) of pages no crawl of this corpus
    ever reaches — not seen once a crawl drains its frontier — are
    never joined to a candidate, so the crawl passes the per-wave check
    and equals the oracle."""
    import dataclasses

    from pyspark.sql import functions as F

    drained = run_oracle(
        corpus.pages, corpus.seeds, corpus.robots,
        dataclasses.replace(CONFIG, max_waves=100),
    )
    assert drained.metrics[-1]["frontier_size"] == 0
    unreached = [p["url"] for p in corpus.pages if p["url"] not in drained.seen]
    assert unreached
    pages, seeds, robots = corpus_to_spark(spark, corpus)
    dup = pages.unionByName(
        pages.filter(F.col("url").isin(unreached)).withColumn(
            "html", F.lit(b"<html><p>stale</p></html>")
        )
    )
    assert dup.count() == len(corpus.pages) + len(unreached)
    store = SnapshotStore(str(tmp_path / "snap"))
    state = run_crawl(spark, dup, seeds, robots, CONFIG, store=store)
    order, results, seen = collect_outputs(spark, store)
    assert [(r["seq"], r["wave"], r["url"]) for r in order] == [
        (r["seq"], r["wave"], r["url"]) for r in oracle_result.crawl_order
    ]
    assert seen == oracle_result.seen
    assert {r["canon_url"]: r["text"] for r in results} == oracle_result.extracted
    assert [m["candidates"] for m in state.metrics] == [
        m["candidates"] for m in oracle_result.metrics
    ]


def test_go_extractor_crawl_matches_oracle(spark, tmp_path):
    """UD2 swappable extractor, end to end: a crawl configured with
    extractor="go" matches the single-node oracle running the same
    variant byte-for-byte, and its extracted text differs from the
    canonical rust-semantics run (the variant is real, not a no-op)."""
    corpus = synth_corpus(n_pages=120, n_hosts=4, seed=9, n_seeds=5)
    pages, seeds, robots = corpus_to_spark(spark, corpus)

    cfg_go = CrawlConfig(
        wave_seconds=8.0, max_waves=2, salt_partitions=2, extractor="go"
    )
    want = run_oracle(corpus.pages, corpus.seeds, corpus.robots, cfg_go)
    store = SnapshotStore(str(tmp_path / "go"))
    run_crawl(spark, pages, seeds, robots, cfg_go, store=store)
    _, results, seen = collect_outputs(spark, store)
    got = {r["canon_url"]: r["text"] for r in results}
    assert got == want.extracted
    assert seen == want.seen

    cfg_rust = CrawlConfig(wave_seconds=8.0, max_waves=2, salt_partitions=2)
    want_rust = run_oracle(corpus.pages, corpus.seeds, corpus.robots, cfg_rust)
    assert want_rust.extracted != want.extracted
    # crawl order/seen are extraction-independent (links logic is shared)
    assert want_rust.seen == want.seen


@pytest.mark.parametrize("extractor", ["rust", "go"])
def test_anchor_in_a_dash_space_comment_is_not_followed(spark, tmp_path, extractor):
    """Text and links read one comment-stripped stream: an anchor inside
    ``<!-- … -- > … -->`` (html.parser alone would end the comment at
    ``-- >``) is comment text, so its target is never discovered, while
    a plain anchor on the same page is crawled. Spark equals the oracle
    under both extractors."""
    import datetime
    import hashlib

    from basic_common_crawl_pipeline_spark.functions.extract import extract_text
    from basic_common_crawl_pipeline_spark.sources.pages import SynthCorpus

    ts = datetime.datetime(2024, 1, 1)
    corpus = SynthCorpus(
        seeds=[{"url": "http://c.test/", "priority": 0, "seed_rank": 0}],
        robots=[{"host": "c.test", "crawl_delay": 1.0, "disallow": []}],
    )
    for path, html in [
        ("/", b'<html><body><p>start</p><!-- a -- > <a href="/hidden">h</a>'
              b' --><a href="/shown">s</a></body></html>'),
        ("/hidden", b"<html><body><p>hidden page</p></body></html>"),
        ("/shown", b"<html><body><p>shown page</p></body></html>"),
    ]:
        corpus.pages.append({
            "url": "http://c.test" + path, "warc_ts": ts, "html": html,
            "text": extract_text(html), "lang": "eng", "status": 200,
            "mime": "text/html", "digest": hashlib.sha1(html).hexdigest(),
        })
    cfg = CrawlConfig(
        wave_seconds=8.0, max_waves=2, salt_partitions=2, extractor=extractor
    )
    want = run_oracle(corpus.pages, corpus.seeds, corpus.robots, cfg)
    pages, seeds, robots = corpus_to_spark(spark, corpus)
    store = SnapshotStore(str(tmp_path / "snap"))
    run_crawl(spark, pages, seeds, robots, cfg, store=store)
    order, results, seen = collect_outputs(spark, store)
    assert [(r["seq"], r["wave"], r["url"]) for r in order] == [
        (r["seq"], r["wave"], r["url"]) for r in want.crawl_order
    ]
    assert seen == want.seen
    assert {r["canon_url"]: r["text"] for r in results} == want.extracted
    assert "http://c.test/shown" in seen
    assert "http://c.test/hidden" not in seen
    assert [r["url"] for r in order] == ["http://c.test/", "http://c.test/shown"]


def test_flagship_equals_oracle_wave_0(spark):
    """``entry()``'s flagship (a committed one-wave ``run_crawl`` over
    ``pages_from_documents``) returns wave 0 of ``run_oracle`` over
    the same fixture: per extracted page its canon_url, host, priority
    and text length."""
    from basic_common_crawl_pipeline_spark.plans import catalog
    from tests.conftest import SF_SMALL

    pages, seeds, robots = catalog.pages_from_documents(spark, SF_SMALL)
    want = run_oracle(
        [r.asDict() for r in pages.collect()],
        [r.asDict() for r in seeds.collect()],
        [r.asDict() for r in robots.collect()],
        CrawlConfig(wave_seconds=16.0, max_waves=1),
    )
    try:
        got = sorted(
            tuple(r)
            for r in catalog.QUERIES["crawl_wave_flagship"](spark, SF_SMALL)
            .select("wave", "canon_url", "host", "priority", "text_len")
            .collect()
        )
    finally:
        catalog.release_caller(spark)
    order = {r["url"]: r for r in want.crawl_order}
    assert got == sorted(
        (0, url, order[url]["host"], order[url]["priority"], len(text))
        for url, text in want.extracted.items()
    )
    assert got
