"""Multi-wave crawl driver (SURVEY.md §7 Step 4): the iterative loop
around ``plans/wave.py`` with snapshot checkpointing and per-wave metrics.

The feedback edge (frontier ← discovered links) makes the crawl an
iterative batch algorithm, not a single streaming query (SURVEY.md §2.6
G1): each wave is one deterministic DataFrame job; state (frontier, seen,
results, crawl order, metrics) commits atomically to the SnapshotStore
after every wave, and ``resume=True`` continues from CURRENT — replaying
an interrupted wave is safe because waves are deterministic functions of
the previous snapshot.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

from ..sources.snapshots import SnapshotStore
from .config import CrawlConfig
from .wave import WaveOutput, empty_seen, frontier_from_seeds, run_wave


@dataclass
class CrawlState:
    wave: int
    next_seq: int
    frontier: DataFrame
    seen: DataFrame
    metrics: list[dict] = field(default_factory=list)


_METRICS_SCHEMA = (
    "wave int, candidates long, disallowed long, misses long, "
    "ineligible long, selected long, deferred long, extracted long, "
    "extract_failures long, discovered long, fetched_bytes long, "
    "frontier_size long"
)


def metrics_table(spark: SparkSession, metrics: list[dict]) -> DataFrame:
    """Per-wave metrics dicts → a queryable DataFrame (S7: the metrics
    'endpoint' as a snapshot table, not just manifest JSON — the Spark
    analog of the reference's Prometheus counters,
    rust/src/tracing_and_metrics.rs:5-20)."""
    import pyarrow as pa

    # through Arrow: a LocalRelation, written by every commit without a
    # Python task (a list-built frame is a PythonRDD — one Python stage
    # per commit). A missing key stays null.
    cols = [c.split()[0] for c in _METRICS_SCHEMA.split(", ")]
    table = pa.table({c: [m.get(c) for m in metrics] for c in cols})
    return spark.createDataFrame(table, _METRICS_SCHEMA)


def metrics_prometheus_text(metrics: list[dict], prefix: str = "crawl") -> str:
    """Prometheus text exposition of the per-wave counters — the Spark
    analog of the reference's scrape endpoints on :9000/:9001
    (rust/src/tracing_and_metrics.rs:5-20, prometheus/scrape_configs.yml:
    1-14; counter names mirror batcher_batches / worker_batches /
    downloaded_bytes, python/batcher.py:20, rust/src/commoncrawl.rs:9-15).
    Cumulative totals as counters plus per-wave gauge samples labeled by
    wave; serve it from any HTTP handler or dump it per snapshot."""
    lines: list[str] = []
    cols = [
        c.split()[0] for c in _METRICS_SCHEMA.split(", ")
        if c.split()[0] != "wave"
    ]
    for c in cols:
        # frontier_size is a level, not a cumulative counter — gauge only
        if c != "frontier_size":
            total_name = f"{prefix}_{c}_total"
            lines.append(f"# TYPE {total_name} counter")
            lines.append(
                f"{total_name} {sum(m.get(c) or 0 for m in metrics)}"
            )
        gauge_name = f"{prefix}_{c}"
        lines.append(f"# TYPE {gauge_name} gauge")
        for m in metrics:
            if m.get(c) is not None:
                lines.append(f'{gauge_name}{{wave="{m["wave"]}"}} {m[c]}')
    return "\n".join(lines) + "\n"


class MetricsServer:
    """Live Prometheus scrape endpoint — the executable counterpart of
    the reference's metrics HTTP servers on :9000/:9001
    (rust/src/tracing_and_metrics.rs:5-20, scraped by
    prometheus/scrape_configs.yml:1-14). Serves
    ``metrics_prometheus_text`` of the most recent per-wave metrics at
    ``/metrics`` from a daemon thread; wire it to a crawl via
    ``run_crawl(..., progress=server.update)``. ``port=0`` binds an
    ephemeral port (see ``.port``)."""

    def __init__(
        self, port: int = 0, prefix: str = "crawl", host: str = "127.0.0.1"
    ) -> None:
        import threading
        from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

        self._metrics: list[dict] = []
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def do_GET(self):  # noqa: N802 (http.server API)
                if self.path.rstrip("/") not in ("", "/metrics"):
                    self.send_error(404)
                    return
                body = metrics_prometheus_text(
                    list(outer._metrics), prefix=prefix
                ).encode()
                self.send_response(200)
                self.send_header(
                    "Content-Type", "text/plain; version=0.0.4; charset=utf-8"
                )
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *_args):  # quiet
                pass

        # loopback by default: the endpoint is unauthenticated, so
        # exposing it on every interface is an explicit opt-in
        # (host="0.0.0.0") for real scrape configs, not the default
        self._httpd = ThreadingHTTPServer((host, port), Handler)
        self.port = self._httpd.server_address[1]
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )
        self._thread.start()

    def update(self, metrics: list[dict]) -> None:
        """Per-wave progress hook: swap in the crawl's metrics so far."""
        self._metrics = list(metrics)

    def close(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()


def url_partitioned(df: DataFrame) -> bool:
    """Whether ``df``'s physical plan reports hash partitioning on exactly
    its ``url`` column — a materialized cache built by
    ``repartition(n, "url")`` or a table bucketed by url. Read from the
    planned node, not plan text; a cache not yet filled reports unknown
    partitioning (its AQE plan settles on first use) and counts as not
    partitioned."""
    part = df._jdf.queryExecution().sparkPlan().outputPartitioning()
    if part.getClass().getSimpleName() != "HashPartitioning":
        return False
    keys = part.expressions()
    return (
        keys.size() == 1
        and keys.apply(0).getClass().getSimpleName() == "AttributeReference"
        and keys.apply(0).name() == "url"
    )


def _leaves(df: DataFrame) -> list:
    """The leaf nodes of ``df``'s analyzed logical plan (py4j objects)."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return [leaves.apply(i) for i in range(leaves.size())]


def _checkpoint_rdds(df: DataFrame) -> dict:
    """id -> RDD under each ``LogicalRDD`` leaf of ``df`` (a checkpoint's
    or an RDD-built frame's rows)."""
    return {
        leaf.rdd().id(): leaf.rdd()
        for leaf in _leaves(df)
        if leaf.getClass().getSimpleName() == "LogicalRDD"
    }


def url_partitioned_pages(pages: DataFrame) -> DataFrame:
    """``pages`` itself when it is already url-partitioned
    (``url_partitioned``) and its plan holds no in-plan rows; otherwise a
    copy hash-partitioned by url over ``spark.sql.shuffle.partitions``,
    persisted and filled. The wave's shuffle_hash joins then exchange
    only the frontier side: over pages with unknown partitioning (a plain
    ``read.parquet``) every wave would re-shuffle the pages table, html
    included — this pays that shuffle once per crawl.

    In-plan rows are a ``LocalRelation`` leaf (``createDataFrame`` over
    local data). Every analysis walks its row Seq (``PreReadCheck``) and
    hashes its rows (``TreeNode.hashCode``), cached or not, and a wave
    analyzes its pages dozens of times (``run_wave`` plus the background
    commit's writes): on a 12k-page crawl those two frames held 41.5% of
    the driver's planning-thread samples. Such pages are copied even when
    already url-partitioned, from a lineage cut: a ``localCheckpoint``
    leaf, O(1) to analyze. It reports unknown partitioning, so the
    repartition still runs and html still never shuffles per wave. The
    copy is one pass over the rows against dozens of analyses per wave,
    so no size threshold applies.

    The caller releases a returned copy with ``release((copy,),
    (pages,))``."""
    in_plan_rows = any(
        leaf.getClass().getSimpleName() == "LocalRelation"
        for leaf in _leaves(pages)
    )
    if not in_plan_rows and url_partitioned(pages):
        return pages
    n = int(pages.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    source = pages.localCheckpoint(eager=False) if in_plan_rows else pages
    copy = source.repartition(n, "url").persist()
    copy.count()
    return copy


def release(frames, inputs) -> None:
    """Unpersist each of ``frames`` and the local-checkpoint blocks under
    it that none of ``inputs`` holds: an RDD leaf the frames have and the
    inputs have not was cut by the caller (a pages copy's lineage cut, a
    crawl's seed and per-wave frontier/processed leaves), so nothing
    crawl-sized outlives it until a JVM GC. The inputs' own leaves and
    caches are left alone."""
    theirs = {i for df in inputs for i in _checkpoint_rdds(df)}
    for df in frames:
        df.unpersist()
        for rdd_id, rdd in _checkpoint_rdds(df).items():
            if rdd_id not in theirs:
                rdd.unpersist(False)


def _seen_chain(store: SnapshotStore) -> int:
    """How many parquet paths the CURRENT snapshot's seen table reads (0
    before the first commit)."""
    manifest = store.read_manifest()
    if manifest is None:
        return 0
    entry = manifest["tables"]["seen"]
    return len(entry["paths"]) if "paths" in entry else 1


def run_crawl(
    spark: SparkSession,
    pages: DataFrame,
    seeds: DataFrame,
    robots: DataFrame,
    config: CrawlConfig = CrawlConfig(),
    *,
    store: SnapshotStore,
    resume: bool = False,
    progress=None,
) -> CrawlState:
    """Run waves until the frontier drains or ``config.max_waves``,
    committing every wave to ``store``; the returned state's frontier
    and seen are read back from its last snapshot (the seed frontier,
    recomputed from ``seeds``, when no wave ran).

    Per-wave driver latency is ONE blocking Spark action (the wave's
    combined metrics/offsets/frontier-size job inside ``run_wave``):

    - the frontier-drained check and the wave's small-wave gate reuse
      the previous wave's ``frontier_size`` metric (a fresh ``count()``
      runs only once, for the first wave of a run);
    - snapshot commits run on a background thread, overlapped with the
      NEXT wave's computation; the barrier sits just before that wave's
      state is rebased onto the committed parquet. CURRENT still flips
      atomically after all of a snapshot's writes, so crash/resume
      semantics are unchanged (an interrupted wave replays
      deterministically from the last committed snapshot);
    - seen commits as a delta chain until the chain holds
      ``spark.sql.sources.parallelPartitionDiscovery.threshold`` paths
      (read once per crawl); the next wave then writes seen whole in its
      own commit, so no rebase ever pays a Spark listing job.

    With ``resume=False`` the store directory must not already contain a
    crawl (a fresh run over an old CURRENT would splice the old run's
    append-table deltas into the new run's tables — refused instead).

    PRECONDITION: every URL a wave reaches has one row in ``pages`` (one
    capture per URL) and its host at most one in ``robots``. The wave's
    left joins emit one row per match, so an extra capture or robots row
    duplicates a candidate, corrupting crawl order and the seen set.
    Every wave checks this inside its one action (``run_wave``: candidate
    rows == ``frontier_count``) and raises ``ValueError`` before that
    wave commits; duplicates of URLs the crawl never reaches are
    harmless and pass. Real CDX indexes hold multiple captures per URL —
    dedupe at ingest (``sources.pages.latest_capture``, keep the latest
    warc_ts) rather than per wave: one shuffle once instead of every
    wave.

    ``pages`` not already hash-partitioned by url (cached or bucketed)
    is partitioned once here and cached for the crawl
    (``url_partitioned_pages``). So are pages whose plan holds in-plan
    rows (a ``LocalRelation`` leaf, e.g. ``createDataFrame`` over
    pandas): their copy is cut from that lineage first, because every
    wave re-analyzes its pages dozens of times and each analysis walks
    and hashes all those rows — 41.5% of the driver's planning samples
    on a 12k-page crawl.

    Whether it returns or raises, the crawl leaves the persisted RDDs
    and the cache manager as it found them (``release``). A wave's
    caches retire once its commit is done and the next wave's action
    has run, together with the lazy ``localCheckpoint`` leaves they were
    computed from (the seed frontier's under wave 0's, the previous
    wave's frontier and processed under the others); the last wave's,
    the pages copy and robots go at the end. A robots frame the caller
    cached stays cached.
    """
    if resume and store.current_snapshot() is not None:
        manifest = store.read_manifest()
        state = CrawlState(
            wave=manifest["extra"]["next_wave"],
            next_seq=manifest["extra"]["next_seq"],
            frontier=store.read_table(spark, "frontier"),
            seen=store.read_table(spark, "seen"),
            metrics=manifest["extra"]["metrics"],
        )
        frontier_count = state.frontier.count()
        retiring: tuple = ()  # the previous wave's caches
    else:
        if store.current_snapshot() is not None:
            raise ValueError(
                "snapshot store already contains a crawl (CURRENT="
                f"{store.current_snapshot()}); pass resume=True to continue "
                "it, or point the fresh run at an empty directory — "
                "re-using the store would splice the old run's append "
                "deltas into the new run's seen/crawl_order/results"
            )
        # persist → count (ONE execution: the drained check fills the
        # cache) → checkpoint-from-cache. The previous shape — a bare
        # lazy checkpoint counted afterwards — materialized the leaf as
        # its own SQL execution before the count's, paying two rounds of
        # AQE boundaries for one canonicalization (the wave-loop leaves
        # get the identical treatment in run_wave). The cache retires
        # after wave 0's action, once the leaf's blocks exist; the leaf
        # with wave 0's caches.
        initial_frontier = frontier_from_seeds(seeds).persist()
        frontier_count = initial_frontier.count()
        state = CrawlState(
            wave=0,
            next_seq=1,
            frontier=initial_frontier.localCheckpoint(eager=False),
            seen=empty_seen(spark),
        )
        retiring = (initial_frontier,)

    from concurrent.futures import ThreadPoolExecutor

    committer = ThreadPoolExecutor(max_workers=1)
    # past this many paths, every read of a parquet path list runs a
    # Spark listing job (InMemoryFileIndex); the seen fold keeps the
    # per-wave rebase under it
    listing_threshold = int(
        spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold")
    )
    pending = None        # in-flight commit of the previous wave
    # the robots dim is re-read every wave (broadcast join build) — cache
    # it once per crawl instead of recomputing its lineage per wave,
    # unless the caller already did (then the caller keeps it)
    own_robots = robots.storageLevel == StorageLevel.NONE
    if own_robots:
        robots = robots.persist()
    input_pages = pages
    pages = url_partitioned_pages(pages)
    inputs = (pages, robots, seeds)
    try:
        while state.wave < config.max_waves:
            if frontier_count == 0:
                break
            # ONE blocking action (inside run_wave) — it overlaps the
            # previous wave's in-flight background commit
            out: WaveOutput = run_wave(
                spark,
                state.frontier,
                state.seen,
                pages,
                robots,
                wave=state.wave,
                config=config,
                next_seq=state.next_seq,
                frontier_count=frontier_count,
            )
            state.metrics.append(out.metrics)
            next_seq = state.next_seq + out.metrics["selected"]
            frontier_count = out.metrics["frontier_size"]
            if progress is not None:
                # M5: per-wave progress callback (e.g. MetricsServer.update)
                progress(state.metrics)

            # barrier the previous wave's commit (it ran concurrently with
            # this wave's job), then retire that wave's caches and the
            # leaves under them
            if pending is not None:
                pending.result()
            release(retiring, inputs)

            # resolve the rebase BEFORE submitting the commit: read_table
            # resolves the manifest's delta-path list at CALL time, so
            # reading after the submit races the background CURRENT flip
            # — if the flip lands first, seen would already include this
            # wave's processed delta and the unionByName below would
            # double it. CURRENT is the previous wave's finished commit or
            # a resume's start manifest; none yet at wave 0 of a fresh run.
            base_seen = (
                store.read_table(spark, "seen")
                if store.current_snapshot() is not None
                else state.seen
            )
            # next-wave state: depth-1 plans over committed parquet + this
            # wave's checkpoint leaves — never reloaded eagerly. seen' =
            # seen ∪ processed (wave step 8, disjoint by construction).
            state.seen = base_seen.unionByName(out.processed)
            tables = {
                "frontier": out.new_frontier,
                # S7: metrics as a queryable snapshot table, not only
                # manifest JSON
                "metrics": metrics_table(spark, state.metrics),
            }
            # seen/crawl_order/results grow monotonically: commit only
            # this wave's delta (Iceberg-append semantics) — a cumulative
            # rewrite would cost O(total²) I/O over a long crawl. Once the
            # committed seen chain holds the listing threshold's number of
            # paths, this commit folds it (the rewrite-data-files analog):
            # seen' is written whole and the next delta chains from it.
            append_tables = {
                "crawl_order": out.crawl_order,
                "results": out.results,
            }
            if _seen_chain(store) >= listing_threshold:
                tables["seen"] = state.seen
            else:
                append_tables["seen"] = out.processed
            extra = {
                "next_wave": state.wave + 1,
                "next_seq": next_seq,
                # copy: the background json.dump must not see metrics
                # appended by the NEXT wave
                "metrics": list(state.metrics),
            }
            pending = committer.submit(
                store.commit,
                snapshot=state.wave + 1,
                tables=tables,
                extra=extra,
                append_tables=append_tables,
            )
            state.frontier = out.new_frontier
            retiring = out.cached
            state.wave += 1
            state.next_seq = next_seq
        if pending is not None:
            pending.result()
    finally:
        committer.shutdown()  # waits out an in-flight commit
        release((*retiring, state.frontier, state.seen), inputs)
        if own_robots:
            robots.unpersist()
        if pages is not input_pages:
            release((pages,), (input_pages,))
    if store.current_snapshot() is None:
        # no wave ran: the seed frontier, recomputed from seeds on use
        state.frontier = initial_frontier
    else:
        state.frontier = store.read_table(spark, "frontier")
        state.seen = store.read_table(spark, "seen")
    return state


def collect_outputs(
    spark: SparkSession, store: SnapshotStore
) -> tuple[list, list, set]:
    """(crawl_order rows, result rows, seen set) from the CURRENT snapshot
    — shaped for direct comparison against the oracle."""
    order = [
        r.asDict()
        for r in store.read_table(spark, "crawl_order").orderBy("seq").collect()
    ]
    results = [
        r.asDict()
        for r in store.read_table(spark, "results").orderBy("canon_url").collect()
    ]
    seen = {
        r["canon_url"] for r in store.read_table(spark, "seen").collect()
    }
    return order, results, seen
