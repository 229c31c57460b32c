"""Physical-plan assertions: the optimizations the 100 TB design relies
on must actually appear in the executed plans (SURVEY.md §4) — partition
pruning, parquet filter/column pushdown, top-k via TakeOrderedAndProject,
and whole-stage codegen on the relational path."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().toString()


def test_partition_pruning_on_partitioned_pages(spark, tmp_path):
    # the pages table at scale is partitioned (bucketed) — a host/lang
    # predicate must prune files, not filter rows post-scan
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    path = str(tmp_path / "docs_by_lang")
    docs.write.partitionBy("lang").parquet(path)
    pruned = spark.read.parquet(path).filter(F.col("lang") == "en")
    plan = _plan(pruned)
    assert "PartitionFilters" in plan
    assert "isnotnull(lang" in plan or "lang" in plan.split("PartitionFilters")[1][:200]
    # all rows come from the lang=en partition only
    assert pruned.select("lang").distinct().collect()[0][0] == "en"


def test_parquet_filter_and_column_pushdown(spark):
    df = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .filter(F.col("n_chars") > 300)
        .select("doc_id", "n_chars")
    )
    plan = _plan(df)
    assert "PushedFilters" in plan
    assert "GreaterThan(n_chars,300)" in plan
    # column pruning: scan schema holds only the two needed columns
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "doc_id" in read_schema and "n_chars" in read_schema
    assert "text" not in read_schema


def test_limit_becomes_take_ordered(spark):
    from basic_common_crawl_pipeline_spark.plans.catalog import b2_limit

    plan = _plan(b2_limit(spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_codegen_and_partial_aggregation(spark):
    from basic_common_crawl_pipeline_spark.plans.catalog import a1_pricing_summary

    df = a1_pricing_summary(spark, SF)
    # map-side combine: partial aggregate below the exchange
    pre = _plan(df)
    assert "partial_sum" in pre and "Exchange hashpartitioning" in pre
    df.collect()  # AQE finalizes the plan only on execution
    post = _plan(df)
    assert "WholeStageCodegen" in post or "*(" in post


def test_broadcast_joins_in_star_query(spark):
    from basic_common_crawl_pipeline_spark.plans.catalog import j3_star_join

    plan = _plan(j3_star_join(spark, SF))
    assert "BroadcastHashJoin" in plan


def test_no_rowbased_python_udf_anywhere():
    """input_hint: no per-row Python — the repo must not use F.udf()."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1] / (
        "basic_common_crawl_pipeline_spark"
    )
    offenders = []
    for py in root.rglob("*.py"):
        src = py.read_text()
        if "F.udf(" in src or "functions.udf(" in src:
            offenders.append(str(py))
    assert not offenders, offenders


def test_warc_range_path_is_shuffle_free(spark, tmp_path):
    """S2/S3 physical chain (cdx -> range fetch -> response filter ->
    extract) is a narrow pipeline: no Exchange anywhere in the plan. On
    both ingest paths the producer and the extraction fuse into ONE
    Python map, so each task starts one Python worker; a cached producer
    output is not fused past."""
    from basic_common_crawl_pipeline_spark.plans.catalog import (
        _warc_fixture_pages,
    )
    from basic_common_crawl_pipeline_spark.sources import warc

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(50)
    out_dir = str(tmp_path / "wc")
    cdx = warc.write_warc_corpus(spark, _warc_fixture_pages(docs), out_dir)
    out = warc.extract_responses(warc.fetch_warc_records(cdx))
    assert "Exchange" not in _plan(out)
    for df in (out, warc.extract_responses(warc.scan_warc_files(spark, out_dir))):
        assert len(df.collect()) == 50
        plan = df._jdf.queryExecution().executedPlan()
        assert _python_nodes(plan) == ["MapInPandasExec"]
    # a cached producer output is read from its cache, not fused past it
    records = warc.fetch_warc_records(cdx).cache()
    try:
        plan = warc.extract_responses(records)._jdf.queryExecution().executedPlan()
        assert "InMemoryTableScanExec" in [
            n.getClass().getSimpleName() for n in _nodes_outside(plan)
        ]
    finally:
        records.unpersist()


def test_batcher_slice_uses_take_ordered(spark):
    from basic_common_crawl_pipeline_spark.plans.catalog import batcher_slice

    assert "TakeOrderedAndProject" in _plan(batcher_slice(spark, SF))


def test_lsh_signature_stays_jvm_side(spark):
    """Random-hyperplane signatures and the banded near-dup join are pure
    Column arithmetic — no Python below the candidate-pair stage. The
    VERIFY is allowed to be the Arrow-vectorized batch kernel
    (ArrowEvalPython) in the bounded broadcast regime (r6): candidates
    are quadratic in cell size and the interpreted per-pair fold
    measured ~40 µs vs ~0.1 µs vectorized; equality of the two verify
    paths is pinned in test_operators.py. Row-at-a-time evaluation
    (BatchEvalPython) stays banned, and the signature/banding subtree
    below the pair exchange must stay JVM."""
    from basic_common_crawl_pipeline_spark.plans.catalog import (
        emb_neardup_pairs,
    )

    plan = _plan(emb_neardup_pairs(spark, SF))
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    assert plan.count("ArrowEvalPython") <= 1
    # everything below the verify (signature, banding, pair join) is
    # JVM: the single Arrow node consumes only the (a, b) id columns
    assert "Exchange" in plan


def test_prometheus_exposition_format():
    from basic_common_crawl_pipeline_spark.plans.crawl import (
        metrics_prometheus_text,
    )

    metrics = [
        {"wave": 0, "selected": 5, "extracted": 4, "discovered": 12},
        {"wave": 1, "selected": 3, "extracted": 3, "discovered": 7},
    ]
    text = metrics_prometheus_text(metrics)
    assert "# TYPE crawl_selected_total counter" in text
    assert "crawl_selected_total 8" in text
    assert 'crawl_selected{wave="0"} 5' in text
    assert 'crawl_discovered{wave="1"} 7' in text
    assert text.endswith("\n")


def _wave0(spark, pages, seeds, robots):
    """Wave 0 over ``empty_seen`` from the seed frontier, given its
    ``count()`` as run_crawl gives it. The caller unpersists
    ``out.cached``."""
    from basic_common_crawl_pipeline_spark.plans.config import CrawlConfig
    from basic_common_crawl_pipeline_spark.plans.wave import (
        empty_seen,
        frontier_from_seeds,
        run_wave,
    )

    frontier = frontier_from_seeds(seeds)
    return run_wave(
        spark, frontier, empty_seen(spark), pages, robots, wave=0,
        config=CrawlConfig(wave_seconds=16.0),
        frontier_count=frontier.count(),
    )


def test_wave_index_scan_prunes_html(spark, tmp_path):
    """The wave's index join (S2/P7) must scan only (url, status, lang):
    the fat html column appears in NO scan except the post-politeness
    fetch join's."""
    from basic_common_crawl_pipeline_spark.plans.catalog import (
        pages_from_documents,
    )

    pages, seeds, robots = pages_from_documents(spark, SF)
    path = str(tmp_path / "pages")
    pages.write.parquet(path)
    pages_pq = spark.read.parquet(path)
    out = _wave0(spark, pages_pq, seeds, robots)
    plan = _plan(out.results)
    # every parquet scan's ReadSchema over the pages table either
    # omits html (index side) or is the url+html fetch side
    scans = [
        seg.split("ReadSchema:")[1].splitlines()[0]
        for seg in plan.split("FileScan parquet")[1:]
        if "ReadSchema:" in seg
    ]
    pages_scans = [s for s in scans if "status" in s or "html" in s]
    assert any("status" in s and "html" not in s for s in pages_scans), plan
    for s in pages_scans:
        if "html" in s:
            assert "status" not in s and "lang" not in s, s
    for df in out.cached:
        df.unpersist()


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _leaf_classes(df) -> list[str]:
    """Class names of the leaves of ``df``'s analyzed plan."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return [leaves.apply(i).getClass().getSimpleName() for i in range(leaves.size())]


def _nodes_outside(plan, input_cache=None) -> list:
    """Every node of an executed plan, found by walking node classes
    through py4j: into AQE plans, query stages, reused exchanges and the
    cached plans of InMemoryTableScans — except ``input_cache`` (an
    InMemoryRelation), whose own build nodes are not the plan's. Each
    JVM node is listed once (by identity), however many paths reach it:
    a reused exchange or a cache scanned twice is one node."""
    from pyspark import SparkContext

    identity = SparkContext._jvm.java.lang.System.identityHashCode
    found, visited, stack = [], set(), [plan]
    while stack:
        node = stack.pop()
        key = identity(node)
        if key in visited:
            continue
        visited.add(key)
        found.append(node)
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif name.endswith("QueryStageExec"):
            stack.append(node.plan())
        elif name == "ReusedExchangeExec":
            stack.append(node.child())
        elif name == "InMemoryTableScanExec":
            if input_cache is None or not node.relation().cacheBuilder().equals(
                input_cache.cacheBuilder()
            ):
                stack.append(node.relation().cachedPlan())
        stack.extend(_seq(node.children()))
    return found


def _shuffles_outside(plan, input_cache) -> list:
    """The ShuffleExchangeExec nodes of ``_nodes_outside``."""
    return [
        n for n in _nodes_outside(plan, input_cache)
        if n.getClass().getSimpleName() == "ShuffleExchangeExec"
    ]


def _python_rdd_in_lineage(rdd) -> bool:
    """Whether an RDD's lineage holds a ``PythonRDD`` (rows produced by a
    Python worker, e.g. a list-built ``createDataFrame``)."""
    seen, stack = set(), [rdd]
    while stack:
        r = stack.pop()
        if r.id() in seen:
            continue
        seen.add(r.id())
        if r.getClass().getSimpleName() == "PythonRDD":
            return True
        stack.extend(dep.rdd() for dep in _seq(r.dependencies()))
    return False


def _python_nodes(plan, input_cache=None) -> list[str]:
    """Class names of the nodes in ``_nodes_outside`` that run a Python
    worker: the pandas/Arrow UDF operators, and scans of an RDD whose
    lineage holds a PythonRDD."""
    out = []
    for node in _nodes_outside(plan, input_cache):
        name = node.getClass().getSimpleName()
        if (
            name in ("MapInPandasExec", "PythonMapInArrowExec")
            or name.endswith("EvalPythonExec")
            or name.startswith("FlatMapGroupsInPandas")
            or (name == "RDDScanExec" and _python_rdd_in_lineage(node.rdd()))
        ):
            out.append(name)
    return out


def _wave_html_shuffles(spark, pages, seeds, robots) -> list:
    """The html-carrying shuffles of a wave-0 run over cached ``pages``."""
    out = _wave0(spark, pages, seeds, robots)
    assert out.metrics["extracted"] > 0
    input_cache = pages._jdf.queryExecution().optimizedPlan()  # InMemoryRelation
    shuffles = _shuffles_outside(
        out.results._jdf.queryExecution().executedPlan(), input_cache
    )
    for df in out.cached:
        df.unpersist()
    assert shuffles  # the frontier side does exchange
    return [
        s for s in shuffles
        if "html" in [a.name() for a in _seq(s.output())]
    ]


def test_wave_never_shuffles_html_over_url_partitioned_pages(
    spark, tmp_path, monkeypatch
):
    """Over pages cached hash-partitioned by url (as pages_from_documents
    and the benchmark's generator build them, and as run_crawl partitions
    a plain parquet read once per crawl), the wave's shuffle_hash joins
    exchange only the frontier side: no shuffle in the wave's executed
    plans, caches included, carries the html column. A round-robin copy
    of the same pages is the negative control — there the fetch join
    must shuffle html, so the walk provably sees it. The large-wave plan
    (salted top-k, range-partitioned sort) is pinned too, by lowering
    ``SMALL_WAVE_ROWS`` to 0: at this size every wave is small."""
    from basic_common_crawl_pipeline_spark.plans import wave
    from basic_common_crawl_pipeline_spark.plans.catalog import (
        pages_from_documents,
    )
    from basic_common_crawl_pipeline_spark.plans.crawl import (
        url_partitioned,
        url_partitioned_pages,
    )

    pages, seeds, robots = pages_from_documents(spark, SF)
    scattered = pages.repartition(3).persist()
    scattered.count()
    pages.write.parquet(str(tmp_path / "plain"))
    plain = spark.read.parquet(str(tmp_path / "plain"))
    assert url_partitioned(pages)
    assert not url_partitioned(scattered) and not url_partitioned(plain)
    assert url_partitioned_pages(pages) is pages
    prepared = url_partitioned_pages(plain)
    assert url_partitioned(prepared)

    try:
        assert _wave_html_shuffles(spark, pages, seeds, robots) == []
        assert _wave_html_shuffles(spark, prepared, seeds, robots) == []
        assert _wave_html_shuffles(spark, scattered, seeds, robots)
        monkeypatch.setattr(wave, "SMALL_WAVE_ROWS", 0)
        assert _wave_html_shuffles(spark, pages, seeds, robots) == []
    finally:
        scattered.unpersist()
        prepared.unpersist()


def test_url_partitioned_pages_cuts_in_plan_rows(spark):
    """Pages built with ``createDataFrame`` over pandas, hash-partitioned
    by url and cached (the benchmark generator's shape) carry a
    LocalRelation leaf that every wave analysis would walk and hash.
    url_partitioned_pages copies them from a lineage cut: no LocalRelation
    leaf remains, the copy is still url-partitioned, and a wave over it
    still shuffles no html."""
    from basic_common_crawl_pipeline_spark.plans.catalog import (
        pages_from_documents,
    )
    from basic_common_crawl_pipeline_spark.plans.crawl import (
        release,
        url_partitioned,
        url_partitioned_pages,
    )

    docs_pages, seeds, robots = pages_from_documents(spark, SF)
    pages = spark.createDataFrame(
        docs_pages.toPandas(), docs_pages.schema
    ).repartition(8, "url").persist()
    pages.count()
    assert "LocalRelation" in _leaf_classes(pages)
    assert url_partitioned(pages)
    prepared = url_partitioned_pages(pages)
    try:
        assert prepared is not pages
        assert "LocalRelation" not in _leaf_classes(prepared)
        assert url_partitioned(prepared)
        assert _wave_html_shuffles(spark, prepared, seeds, robots) == []
    finally:
        release((prepared,), (pages,))
        pages.unpersist()


def test_ann_sig_layout_partition_pruning(spark, tmp_path):
    """The signature-prefix layout turns the ANN Hamming-ball probe into
    PARTITION pruning: the ball predicate sits on the partition column
    (PartitionFilters in the plan), only ball partitions are opened, and
    the result equals the computed-signature probe over the raw table."""
    import re

    from pyspark.sql import functions as F

    from basic_common_crawl_pipeline_spark.operators import similarity
    from basic_common_crawl_pipeline_spark.plans.catalog import _RH_PLANES

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    path = str(tmp_path / "sig_layout")
    similarity.write_sig_partitioned(emb, path, planes=_RH_PLANES)

    table = spark.read.parquet(path)
    qsig = int(table.filter(F.col("vec_id") == 1).select("sig").take(1)[0][0])
    probe = table.filter(F.expr(f"bit_count(sig_prefix ^ {qsig}) <= 2"))
    plan = _plan(probe)
    pf = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "sig_prefix" in pf and "bit_count" in pf, plan
    # behavioral pruning: the files actually opened are ball partitions
    files = {
        r[0] for r in probe.select(F.input_file_name()).distinct().collect()
    }
    prefixes = {int(re.search(r"sig_prefix=(\d+)", f).group(1)) for f in files}
    ball = {p for p in range(256) if bin(p ^ qsig).count("1") <= 2}
    all_parts = {
        int(re.search(r"sig_prefix=(\d+)", r[0]).group(1))
        for r in table.select(F.input_file_name()).distinct().collect()
    }
    assert prefixes <= ball
    assert len(prefixes) < len(all_parts)  # genuinely pruned, not a scan
    # end-to-end equality with the computed-signature probe
    got = similarity.cosine_topk_lsh_partitioned(
        spark, path, query_id=1, k=10, max_hamming=2, n_planes=8
    ).collect()
    want = similarity.cosine_topk_lsh(
        emb, query_id=1, k=10, max_hamming=2, planes=_RH_PLANES
    ).collect()
    assert [(r["vec_id"], r["cos"]) for r in got] == [
        (r["vec_id"], r["cos"]) for r in want
    ]


def test_metrics_server_scrape_mid_crawl(spark, tmp_path):
    """S7 live endpoint: a crawl wired to MetricsServer serves Prometheus
    text at /metrics WHILE running; a mid-run scrape parses to the
    metrics committed so far, and the final scrape matches the crawl's
    counters exactly (the format already pinned above)."""
    import threading
    import urllib.request

    from basic_common_crawl_pipeline_spark.plans.config import CrawlConfig
    from basic_common_crawl_pipeline_spark.plans.crawl import (
        MetricsServer,
        run_crawl,
    )
    from basic_common_crawl_pipeline_spark.sources.pages import (
        corpus_to_spark,
        synth_corpus,
    )
    from basic_common_crawl_pipeline_spark.sources.snapshots import (
        SnapshotStore,
    )

    corpus = synth_corpus(n_pages=200, n_hosts=4, seed=5, n_seeds=8)
    pages, seeds, robots = corpus_to_spark(spark, corpus)
    server = MetricsServer(port=0)
    first_wave = threading.Event()
    mid_run: dict = {}

    def progress(metrics):
        server.update(metrics)
        if not first_wave.is_set():
            # scrape from inside the run, between waves — the crawl is
            # still executing when this GET lands
            with urllib.request.urlopen(
                f"http://127.0.0.1:{server.port}/metrics", timeout=10
            ) as r:
                mid_run["text"] = r.read().decode()
                mid_run["ctype"] = r.headers["Content-Type"]
            first_wave.set()

    cfg = CrawlConfig(wave_seconds=8.0, max_waves=3, salt_partitions=2)
    state = run_crawl(
        spark, pages, seeds, robots, cfg,
        store=SnapshotStore(str(tmp_path / "s")), progress=progress,
    )
    assert first_wave.is_set() and state.wave >= 2
    assert mid_run["ctype"].startswith("text/plain")

    def parse(text):
        out = {}
        for line in text.splitlines():
            if line.startswith("#") or not line.strip():
                continue
            name, value = line.rsplit(" ", 1)
            out[name] = float(value)
        return out

    mid = parse(mid_run["text"])
    assert mid["crawl_selected_total"] == state.metrics[0]["selected"]
    assert mid['crawl_candidates{wave="0"}'] == state.metrics[0]["candidates"]
    with urllib.request.urlopen(
        f"http://127.0.0.1:{server.port}/metrics", timeout=10
    ) as r:
        final = parse(r.read().decode())
    server.close()
    assert final["crawl_selected_total"] == sum(
        m["selected"] for m in state.metrics
    )
    assert final["crawl_extracted_total"] == sum(
        m["extracted"] for m in state.metrics
    )


def test_wave_leaves_materialize_without_rerunning_the_wave(spark):
    """Round-3 structural pin: run_wave returns processed/new_frontier as
    lazy checkpoint leaves wrapped around caches its single action has
    already filled — materializing them afterwards must be a block copy
    (a couple of jobs for the count itself), NOT a re-run of the wave
    DAG (which spawns many AQE sub-jobs: joins, windows, the extract)."""
    from basic_common_crawl_pipeline_spark.plans.catalog import (
        pages_from_documents,
    )

    pages, seeds, robots = pages_from_documents(spark, SF)
    out = _wave0(spark, pages, seeds, robots)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        for name, leaf in (
            ("processed", out.processed),
            ("new_frontier", out.new_frontier),
        ):
            sc.setJobGroup(f"leafmat_{name}", "leaf materialization")
            n = leaf.count()
            assert n > 0
            jobs = tracker.getJobIdsForGroup(f"leafmat_{name}")
            # a cache-backed block copy + count: ≤3 jobs (AQE may split
            # the count's partial/final agg); a wave re-run is 10+
            assert 0 < len(jobs) <= 3, (name, jobs)
    finally:
        sc.setJobGroup("", "")
        for df in out.cached:
            df.unpersist()


def test_hypertable_rollup_scans_raw_once(spark):
    """The continuous-aggregate claim, physically: the rollup's final
    plan contains ZERO raw parquet scans (the single scan ran inside the
    finest level's checkpoint job) and one leaf read per level — without
    the materialization the union re-scans raw once per level."""
    from basic_common_crawl_pipeline_spark.plans.catalog import queries

    df = queries()["rollup_hypertable"](spark, SF)
    assert df.count() > 0
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 0, plan
    assert plan.count("Scan ExistingRDD") == 3, plan


def test_ann_ivf_layout_partition_pruning(spark, tmp_path):
    """The inverted-list layout turns the IVF nprobe probe into
    PARTITION pruning: the list_id IN (...) predicate sits on the
    partition column, only probed-list partitions are opened, and the
    result equals the row-filter ivf_topk over the raw table."""
    import re

    from pyspark.sql import functions as F

    from basic_common_crawl_pipeline_spark.operators import similarity
    from basic_common_crawl_pipeline_spark.plans.catalog import _IVF_CENTROIDS

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    path = str(tmp_path / "ivf_layout")
    similarity.write_ivf_partitioned(emb, path, centroids=_IVF_CENTROIDS)

    out = similarity.ivf_topk_partitioned(
        spark, path, query_id=2, k=10, nprobe=4, centroids=_IVF_CENTROIDS
    )
    table = spark.read.parquet(path)
    probed = table.filter(F.col("list_id").isin(0, 1, 2, 3))
    plan = _plan(probed)
    pf = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "list_id" in pf, plan
    # behavioral pruning: the files actually opened are the probed lists
    opened = {
        int(re.search(r"list_id=(\d+)", r[0]).group(1))
        for r in probed.select(F.input_file_name()).distinct().collect()
    }
    all_parts = {
        int(re.search(r"list_id=(\d+)", r[0]).group(1))
        for r in table.select(F.input_file_name()).distinct().collect()
    }
    assert opened <= {0, 1, 2, 3}
    assert len(all_parts) > 4  # layout genuinely has many lists
    # end-to-end equality with the row-filter probe
    got = [(r["vec_id"], r["cos"]) for r in out.collect()]
    want = [
        (r["vec_id"], r["cos"])
        for r in similarity.ivf_topk(
            emb, query_id=2, k=10, nprobe=4, centroids=_IVF_CENTROIDS
        ).collect()
    ]
    assert got == want and len(got) == 10


def test_training_ops_physical_plans(spark):
    """The round-4 training-prep operators' scale contracts, pinned:
    repetition/rebalance are shuffle-free scans, decontamination joins
    broadcast (never sort-merge), packing's only window partitions by
    the physical pid (no single-partition exchange) and stays JVM."""
    from basic_common_crawl_pipeline_spark.plans.catalog import QUERIES

    # r6: the adaptive input spread (operators/spread.py) widens the
    # degenerate 1-split local scan with ONE round-robin exchange; the
    # scale contract is unchanged — no data-dependent (hash) shuffle,
    # no Python crossing, and a many-split input takes no exchange.
    p = _plan(QUERIES["text_repetition"](spark, SF))
    assert "hashpartitioning" not in p and "MapInPandas" not in p
    assert p.count("Exchange") <= 1

    p = _plan(QUERIES["text_sample_rebalance"](spark, SF))
    assert "Exchange" not in p and "PushedFilters" in p

    p = _plan(QUERIES["text_decontaminate"](spark, SF))
    assert "SortMergeJoin" not in p
    # single-scan shape: ONE broadcast left join (bench gram set) feeds
    # the per-doc hash aggregate; no post-join count join remains
    assert p.count("BroadcastHashJoin") == 1

    p = _plan(QUERIES["text_sequence_packing"](spark, SF))
    assert "Exchange SinglePartition" not in p
    assert "windowspecdefinition(__pid" in p
    assert "MapInPandas" not in p and "ArrowEvalPython" not in p

    # PII redaction is a narrow map over the scan: no data-dependent
    # shuffle (the adaptive spread's round-robin widens the 1-split
    # local scan only), all JVM
    p = _plan(QUERIES["text_pii_redact"](spark, SF))
    assert "hashpartitioning" not in p
    assert p.count("Exchange") <= 1
    assert "MapInPandas" not in p and "ArrowEvalPython" not in p

    # line dedup: mark join + reassembly, never a window (a per-doc
    # window would serialize on document size); the dup-set aggregate
    # partially combines map-side (two-level HashAggregate on __h)
    p = _plan(QUERIES["text_line_dedup"](spark, SF))
    assert "windowspecdefinition" not in p
    assert "partial_count(distinct " in p

    # LM quality: vocab via TakeOrderedAndProject, broadcast back over
    # the corpus — the corpus side must never sort-merge
    p = _plan(QUERIES["text_lm_quality"](spark, SF))
    assert "TakeOrderedAndProject" in p
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p

    # PQ encode is a narrow compressed-encoding map: no data-dependent
    # shuffle (adaptive spread round-robins the 1-split local scan
    # only), no UDF
    p = _plan(QUERIES["ann_pq_encode"](spark, SF))
    assert "hashpartitioning" not in p
    assert p.count("Exchange") <= 1
    assert "MapInPandas" not in p and "ArrowEvalPython" not in p

    # PQ search: ADC shortlist via TakeOrderedAndProject over the codes,
    # raw vectors touched only through the broadcast rerank join
    p = _plan(QUERIES["ann_pq_topk"](spark, SF))
    assert "TakeOrderedAndProject" in p
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p


def test_round4_continuation_physical_plans(spark):
    """Scale contracts of the round-4 continuation ops, pinned:
    span dedup's DEFAULT path is the hot-gram-safe grouped mark — a
    map-side-combined groupBy-min over the CACHED gram table (partial
    aggregation below the exchange, so no task ever holds a whole gram
    group) and NO window keyed on the gram hash; incremental dedup
    broadcasts the new-wave side into every join against the old corpus
    (the fat side must never sort-merge) and keeps the hot-cell
    LeftAnti guard + candidate-id LeftSemi restriction; the quality
    classifier takes its weight table through TakeOrderedAndProject and
    broadcasts it into the scoring join. All three stay JVM-side."""
    from basic_common_crawl_pipeline_spark.plans.catalog import QUERIES

    p = _plan(QUERIES["text_span_dedup"](spark, SF))
    assert "windowspecdefinition(__h" not in p  # skew-safe default
    assert "partial_min" in p  # map-side combine below the exchange
    assert "InMemoryTableScan" in p  # gram table built once, cached
    assert "MapInPandas" not in p and "ArrowEvalPython" not in p

    p = _plan(QUERIES["dedup_incremental"](spark, SF))
    assert "SortMergeJoin" not in p
    assert "LeftAnti" in p and "LeftSemi" in p
    assert "MapInPandas" not in p and "ArrowEvalPython" not in p

    p = _plan(QUERIES["text_quality_classifier"](spark, SF))
    assert "TakeOrderedAndProject" in p
    assert "BroadcastHashJoin" in p
    assert "MapInPandas" not in p and "ArrowEvalPython" not in p


def test_bm25_index_layout_partition_pruning(spark, tmp_path):
    """The inverted-index layout (operators/retrieval.py) turns the
    BM25 term probe into PARTITION pruning: the bucket predicate sits on
    the partition column (PartitionFilters), only the query terms'
    bucket directories are opened, and the probe plan never touches the
    corpus text (2-column-free: it reads postings, not documents)."""
    import re

    from pyspark.sql import functions as F

    from basic_common_crawl_pipeline_spark.operators import retrieval
    from basic_common_crawl_pipeline_spark.plans.catalog import _BM25_TERMS

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    path = str(tmp_path / "bm25_idx")
    retrieval.write_inverted_index(docs, path)

    want_buckets = set(
        retrieval.term_buckets(spark, _BM25_TERMS, 64).values()
    )
    probe = retrieval.bm25_topk_indexed(spark, path, _BM25_TERMS, k=10)
    plan = _plan(probe)
    pf = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "bucket" in pf and " IN " in pf, plan

    # behavioral pruning: the files actually opened are the term buckets
    post = spark.read.parquet(path + "/postings").filter(
        F.col("bucket").isin(sorted(want_buckets))
    )
    files = {
        r[0] for r in post.select(F.input_file_name()).distinct().collect()
    }
    opened = {int(re.search(r"bucket=(\d+)", f).group(1)) for f in files}
    all_parts = {
        int(re.search(r"bucket=(\d+)", r[0]).group(1))
        for r in spark.read.parquet(path + "/postings")
        .select(F.input_file_name())
        .distinct()
        .collect()
    }
    assert opened <= want_buckets
    assert len(all_parts) > len(want_buckets)  # genuinely pruned


def test_ivfpq_layout_partition_pruning_and_codes_only_scan(spark, tmp_path):
    """The IVF-PQ layout gives a query BOTH scale multipliers: the
    nprobe membership test sits on the list_id PARTITION column
    (PartitionFilters — only probed list directories open), and the
    ADC scan's ReadSchema carries only the id and code columns (4 B/row
    — never the raw embedding, which is touched only by the broadcast
    rerank against the source table)."""
    import re

    from pyspark.sql import functions as F

    from basic_common_crawl_pipeline_spark.operators import similarity
    from basic_common_crawl_pipeline_spark.plans.catalog import (
        _IVF_CENTROIDS,
        _PQ_CB,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    path = str(tmp_path / "ivfpq_layout")
    similarity.write_ivfpq_partitioned(
        emb, path, centroids=_IVF_CENTROIDS, codebooks=_PQ_CB
    )
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 5)
            .select("embedding").take(1)[0][0]]
    probe = similarity._select_probe_lists(qvec, _IVF_CENTROIDS, 4)

    out = similarity.ivfpq_topk(
        spark, path, emb, qvec, k=10, nprobe=4,
        centroids=_IVF_CENTROIDS, codebooks=_PQ_CB,
    )
    plan = _plan(out)
    # several scans appear (codes + the rerank's raw-table scan, whose
    # PartitionFilters is empty) — the CODES scan must carry the probe
    pfs = [seg.split("]")[0] for seg in plan.split("PartitionFilters:")[1:]]
    assert any("list_id" in pf and " IN " in pf for pf in pfs), plan
    # the codes scan reads codes, not vectors
    code_scan = [
        seg.split("ReadSchema:")[1].splitlines()[0]
        for seg in plan.split("FileScan parquet")[1:]
        if "pq_code" in seg.split("ReadSchema:")[1].splitlines()[0]
    ]
    assert code_scan and all("embedding" not in s for s in code_scan)
    # behavioral pruning: only probed list directories are opened
    codes = spark.read.parquet(path).filter(
        F.col("list_id").isin(sorted(probe))
    )
    opened = {
        int(re.search(r"list_id=(\d+)", r[0]).group(1))
        for r in codes.select(F.input_file_name()).distinct().collect()
    }
    assert opened <= set(probe) and len(opened) <= 4
    # the probed shortlist reranks to exactly the oracle-checked top-k
    assert out.count() == 10


def test_bucketed_tables_join_without_exchange(spark, tmp_path):
    """Co-located join via real `bucketBy` tables (sources/bucketed.py):
    two tables bucketed 8-ways on the join key join with NO Exchange on
    either side (the shuffle moved to write time), and with in-bucket
    sortBy the join's Sort disappears too. A plain read.parquet over the
    SAME files loses the catalog bucket metadata and replans the
    exchange — pinned here so nobody 'simplifies' the reader."""
    from pyspark.sql import functions as F

    from basic_common_crawl_pipeline_spark.sources.bucketed import (
        drop_bucketed_table,
        read_bucketed_table,
        write_bucketed_table,
    )

    left = spark.range(0, 2000).select(
        F.concat(F.lit("http://h"), (F.col("id") % 40).cast("string"),
                 F.lit(".test/p"), F.col("id").cast("string")).alias("url"),
        (F.col("id") * 3).alias("size"),
    )
    right = left.select("url", (F.length("url")).alias("meta"))
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the sort-merge path: broadcast would hide the property
        # being pinned (a 100-TB pages table is not broadcastable)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        write_bucketed_table(
            left, "bk_pages", ["url"], n_buckets=8,
            path=str(tmp_path / "bk_pages"),
        )
        write_bucketed_table(
            right, "bk_cdx", ["url"], n_buckets=8,
            path=str(tmp_path / "bk_cdx"),
        )
        l, r = read_bucketed_table(spark, "bk_pages"), read_bucketed_table(
            spark, "bk_cdx"
        )
        joined = l.join(r, "url").select("url", "size", "meta")
        assert joined.count() == 2000
        nodes = _nodes_outside(joined._jdf.queryExecution().executedPlan())
        names = [n.getClass().getSimpleName() for n in nodes]
        # the surviving Sort nodes are partition-LOCAL (within a bucket,
        # no shuffle behind them) — Spark 3+ ignores bucket sort order
        # unless spark.sql.legacy.bucketedTableScan.outputOrdering is
        # set; the scale win pinned here is the absent exchange
        assert "ShuffleExchangeExec" not in names, names
        assert names.count("SortMergeJoinExec") == 1, names
        assert any(
            n.getClass().getSimpleName() == "FileSourceScanExec"
            and n.bucketedScan()
            for n in nodes
        ), names
        # same files without catalog metadata: exchange comes back
        raw = spark.read.parquet(str(tmp_path / "bk_pages")).join(
            spark.read.parquet(str(tmp_path / "bk_cdx")), "url"
        )
        assert _shuffles_outside(raw._jdf.queryExecution().executedPlan(), None)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        drop_bucketed_table(spark, "bk_pages")
        drop_bucketed_table(spark, "bk_cdx")


def test_wave_fetch_join_over_bucketed_pages_drops_exchanges(spark, tmp_path):
    """The crawl's shuffle_hash url joins over a pages table written with
    sources/bucketed.py: the bucketed scan's HashPartitioning(url)
    propagates through the index projection's alias, so the pages side
    of BOTH url joins (index lookup and html fetch) plans no re-shuffle —
    strictly fewer hash exchanges than the same wave over plain parquet,
    with byte-identical output."""
    from basic_common_crawl_pipeline_spark.plans.catalog import (
        pages_from_documents,
    )
    from basic_common_crawl_pipeline_spark.plans.crawl import url_partitioned
    from basic_common_crawl_pipeline_spark.sources.bucketed import (
        drop_bucketed_table,
        read_bucketed_table,
        write_bucketed_table,
    )

    pages, seeds, robots = pages_from_documents(spark, SF)
    pages.write.mode("overwrite").parquet(str(tmp_path / "plain"))
    plain = spark.read.parquet(str(tmp_path / "plain"))
    try:
        write_bucketed_table(
            pages, "bk_wave_pages", ["url"], n_buckets=8,
            path=str(tmp_path / "bk"),
        )
        bk = read_bucketed_table(spark, "bk_wave_pages")
        assert url_partitioned(bk) and not url_partitioned(plain)

        def run(p):
            out = _wave0(spark, p, seeds, robots)
            plan = out.results._jdf.queryExecution().executedPlan().toString()
            rows = sorted(
                (r["canon_url"], r["text"])
                for r in out.results.select("canon_url", "text").collect()
            )
            for c in out.cached:
                c.unpersist()
            return plan, rows

        plain_plan, plain_rows = run(plain)
        bk_plan, bk_rows = run(bk)
        assert "Bucketed: true" in bk_plan
        assert bk_plan.count("Exchange hashpartitioning") < plain_plan.count(
            "Exchange hashpartitioning"
        ), (
            bk_plan.count("Exchange hashpartitioning"),
            plain_plan.count("Exchange hashpartitioning"),
        )
        assert bk_rows == plain_rows and len(bk_rows) > 0
    finally:
        drop_bucketed_table(spark, "bk_wave_pages")


def test_spread_input_probe_reads_plan_nodes(spark, tmp_path):
    """spread_input skips a frame whose lineage already holds a
    repartition node, read from the analyzed plan's node classes: a
    column or alias merely named Repartition must not suppress the
    spread, while a real repartition (or rebalance) still does."""
    from pyspark.sql import functions as F

    from basic_common_crawl_pipeline_spark.operators.spread import spread_input

    spark.range(100).coalesce(1).write.parquet(str(tmp_path / "one"))
    one = spark.read.parquet(str(tmp_path / "one"))

    def spreads(df):
        return spread_input(df) is not df

    assert spreads(one)
    assert spreads(one.withColumnRenamed("id", "Repartition"))
    assert spreads(one.select(F.col("id").alias("RebalancePartitions")))
    assert not spreads(one.repartition(2))
    assert not spreads(one.repartition(2, "id").filter(F.col("id") > 3))
    assert not spreads(one.hint("rebalance"))


def _logical_classes(plan) -> list[str]:
    out, stack = [], [plan]
    while stack:
        node = stack.pop()
        out.append(node.getClass().getSimpleName())
        stack.extend(_seq(node.children()))
    return out


def test_empty_seen_is_proven_empty_at_planning(spark):
    """empty_seen optimizes to an empty LocalRelation (no Python task),
    and an anti-join against it is deleted: no Join node remains."""
    from basic_common_crawl_pipeline_spark.plans.wave import empty_seen

    opt = empty_seen(spark)._jdf.queryExecution().optimizedPlan()
    assert opt.getClass().getSimpleName() == "LocalRelation"
    assert opt.data().isEmpty()
    frontier = spark.range(20).select(F.col("id").cast("string").alias("canon_url"))
    anti = frontier.join(empty_seen(spark), "canon_url", "left_anti")
    classes = _logical_classes(anti._jdf.queryExecution().optimizedPlan())
    assert "Join" not in classes, classes
    assert anti.count() == 20


def test_metrics_table_is_a_local_relation(spark):
    """metrics_table is built through Arrow: its leaf is a LocalRelation,
    not a list-built (PythonRDD) LogicalRDD."""
    from basic_common_crawl_pipeline_spark.plans.crawl import metrics_table

    df = metrics_table(spark, [{"wave": 0, "selected": 3}, {"wave": 1}])
    assert _leaf_classes(df) == ["LocalRelation"]


def test_global_seq_assign_is_a_narrow_jvm_projection(spark):
    """The numbering pass over the sorted cache runs no Python and no
    exchange; a frame whose __pid is not its physical partition raises
    instead of being misnumbered."""
    from basic_common_crawl_pipeline_spark.operators.ordering import (
        global_seq_assign,
        global_seq_sorted,
    )

    df = spark.range(0, 3000).select((F.col("id") * 7919 % 3000).alias("k"))
    cache: list = []
    sorted_df = global_seq_sorted(df, ["k"], cache=cache)
    counts = {
        r["__pid"]: r["count"]
        for r in sorted_df.groupBy("__pid").count().collect()
    }
    try:
        out = global_seq_assign(sorted_df, counts, start=5)
        assert all(r.seq == r.k + 5 for r in out.collect())
        plan = out._jdf.queryExecution().executedPlan()
        input_cache = sorted_df._jdf.queryExecution().optimizedPlan()
        assert _python_nodes(plan, input_cache) == []
        assert _shuffles_outside(plan, input_cache) == []
        with pytest.raises(Exception, match="sorted layout changed"):
            global_seq_assign(sorted_df.repartition(3), counts).collect()
    finally:
        for c in cache:
            c.unpersist()


def _wave1(spark):
    """(pages, w0, w1): wave 0 over ``empty_seen``, then wave 1 over
    ``empty_seen`` ∪ wave 0's processed leaf — the run_crawl shape of a
    crawl's second wave, each given its frontier count the way
    run_crawl gives it. The caller unpersists ``w0.cached + w1.cached``."""
    from basic_common_crawl_pipeline_spark.plans.catalog import (
        pages_from_documents,
    )
    from basic_common_crawl_pipeline_spark.plans.config import CrawlConfig
    from basic_common_crawl_pipeline_spark.plans.wave import empty_seen, run_wave

    pages, seeds, robots = pages_from_documents(spark, SF)
    w0 = _wave0(spark, pages, seeds, robots)
    w1 = run_wave(
        spark, w0.new_frontier, empty_seen(spark).unionByName(w0.processed),
        pages, robots, wave=1, config=CrawlConfig(wave_seconds=16.0),
        next_seq=1 + w0.metrics["selected"],
        frontier_count=w0.metrics["frontier_size"],
    )
    return pages, w0, w1


def test_wave_runs_python_only_in_the_extract(spark):
    """A wave-1 run_wave over seen = empty_seen ∪ wave 0's processed
    leaf: across the executed plans of its results, crawl_order and
    new_frontier (caches included), the only Python node is the
    extract's MapInPandasExec — the seen set, the numbering and the
    frontier run in the JVM."""
    pages, w0, w1 = _wave1(spark)
    input_cache = pages._jdf.queryExecution().optimizedPlan()
    try:
        assert w1.metrics["extracted"] > 0
        found = []
        for df in (w1.results, w1.crawl_order, w1.new_frontier):
            df.collect()  # settle the adaptive plans
            found += _python_nodes(
                df._jdf.queryExecution().executedPlan(), input_cache
            )
        assert found == ["MapInPandasExec"], found
    finally:
        for df in w0.cached + w1.cached:
            df.unpersist()


def test_wave_frontier_merge_has_no_sort_aggregate(spark):
    """Discovery's min-priority merge groups on (canon_url, host, surt),
    which host and surt are functions of, so only the int priority is
    aggregated: no SortAggregateExec (forced by a string min()) in any
    of a wave-1 run's caches."""
    pages, w0, w1 = _wave1(spark)
    input_cache = pages._jdf.queryExecution().optimizedPlan()
    try:
        assert w1.metrics["frontier_size"] > 0
        found = [
            n.getClass().getSimpleName()
            for df in w1.cached
            for n in _nodes_outside(
                df._jdf.queryExecution().executedPlan(), input_cache
            )
        ]
        assert "HashAggregateExec" in found
        assert "SortAggregateExec" not in found
    finally:
        for df in w0.cached + w1.cached:
            df.unpersist()


def _anti_joins(df, input_cache) -> int:
    """LeftAnti join nodes in ``df``'s executed plan, caches included."""
    return sum(
        1 for n in _nodes_outside(
            df._jdf.queryExecution().executedPlan(), input_cache
        )
        if n.getClass().getSimpleName().endswith("JoinExec")
        and n.joinType().toString() == "LeftAnti"
    )


def test_wave_tests_seen_membership_only_at_discovery(spark):
    """Frontier ∩ seen = ∅ (plans/config.py step 1), so a wave-1 run over
    a non-empty seen set plans no frontier ∖ seen anti-join: the
    executed plans of results and crawl_order, caches included, hold no
    LeftAnti join, and the cache behind new_frontier's checkpoint leaf
    holds exactly one — discovery's links ∖ (seen ∪ processed)."""
    pages, w0, w1 = _wave1(spark)
    input_cache = pages._jdf.queryExecution().optimizedPlan()
    try:
        assert w0.metrics["selected"] > 0 and w1.metrics["candidates"] > 0
        assert _anti_joins(w1.results, input_cache) == 0
        assert _anti_joins(w1.crawl_order, input_cache) == 0
        (frontier_cache,) = [
            c for c in w1.cached if c.columns == w1.new_frontier.columns
        ]
        assert _anti_joins(frontier_cache, input_cache) == 1
    finally:
        for df in w0.cached + w1.cached:
            df.unpersist()
