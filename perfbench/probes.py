"""Measurements around the workloads: the memory-copy bandwidth probe
(a run annotation), the peak-memory sampler for the timed call, and the
per-layer probes that call one public engine function in isolation on
the workload's own inputs."""

from __future__ import annotations

import os
import re
import statistics
import threading
import time
from urllib.parse import urljoin

# -- copy-bandwidth probe -----------------------------------------------------

_COPY_MB = 16
_COPY_REPS = 8
_COPY_PROCS = 4  # = local[4] cores


def _copy_worker(_):
    import numpy as np

    src = np.ones(_COPY_MB * 2**20 // 8)
    dst = np.empty_like(src)
    np.copyto(dst, src)  # fault the pages in before timing
    t = time.perf_counter()
    for _ in range(_COPY_REPS):
        np.copyto(dst, src)
    return time.perf_counter() - t


def copy_bandwidth_gbps() -> float:
    """Aggregate memory-copy bandwidth of ``_COPY_PROCS`` processes copying
    ``_COPY_MB`` MB arrays, in GB/s (read plus write). Memory bandwidth
    on shared hosts swings by two orders of magnitude between minutes,
    so every run records it next to its timings."""
    import multiprocessing

    # fork, not spawn: spawn starts a resource-tracker process that
    # outlives the pool
    with multiprocessing.get_context("fork").Pool(_COPY_PROCS) as pool:
        secs = pool.map(_copy_worker, range(_COPY_PROCS))
        pool.close()
        pool.join()
    moved = 2 * _COPY_MB * 2**20 * _COPY_REPS * _COPY_PROCS
    return moved / max(secs) / 1e9


# -- peak memory of the process tree -----------------------------------------

_SAMPLE_EVERY_S = 0.5


def process_children() -> dict[int, list[int]]:
    """Parent pid -> pids of its children, for every process in /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(name))
    return children


def _tree_pss_bytes(root: int) -> int:
    """Proportional set size of ``root`` and all its descendants: forked
    Python workers share most pages with their daemon, and RSS would
    count those pages once per worker."""
    children = process_children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


class PeakMemory:
    """Samples the PSS of this process and all its descendants (the JVM
    and the Python workers) every ``_SAMPLE_EVERY_S`` seconds while open."""

    def __init__(self) -> None:
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        self.peak = max(self.peak, _tree_pss_bytes(os.getpid()))

    def _run(self) -> None:
        while not self._stop.wait(_SAMPLE_EVERY_S):
            self._sample()

    def __enter__(self) -> PeakMemory:
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    @property
    def mb(self) -> float:
        return self.peak / 1e6


# -- per-layer probes ---------------------------------------------------------

_HREF_RE = re.compile(rb'href="([^"]*)"')
_REPS = 3  # each probe reports the median of this many timings
_SAMPLE = 1500  # pages per kind for the function probes


def _median_time(fn) -> float:
    times = []
    for _ in range(_REPS):
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def function_probes(pages: list[dict]) -> dict:
    """``extract_page`` per page on plain and hostile pages (comments or
    non-ASCII bytes), and ``canon_host_surt`` per resolved href, in this
    process on the workload's own pages."""
    from basic_common_crawl_pipeline_spark.functions.links import extract_page
    from basic_common_crawl_pipeline_spark.functions.urls import canon_host_surt

    plain, hostile = [], []
    for p in pages:
        html = p["html"]
        kind = hostile if (b"<!--" in html or not html.isascii()) else plain
        if len(kind) < _SAMPLE:
            kind.append((html, p["url"]))
    urls = [
        urljoin(url, href.decode())
        for html, url in plain + hostile
        for href in _HREF_RE.findall(html)
    ]

    def extract_all(rows):
        return lambda: [extract_page(html, url) for html, url in rows]

    return {
        "extract.us_per_page_plain": 1e6 * _median_time(extract_all(plain)) / len(plain),
        "extract.us_per_page_hostile": 1e6 * _median_time(extract_all(hostile)) / len(hostile),
        "urls.us_per_url": 1e6 * _median_time(lambda: [canon_host_surt(u) for u in urls]) / len(urls),
    }


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def frontier_probes(spark, pages, seeds, robots, config) -> dict:
    """``rank_per_host_topk`` on the initial eligible set and the two
    sequencer phases on its selected set, each materialized to a noop
    sink. The inputs are built with the wave's own rules (canonical
    seeds, index status/lang, robots budget) and cached first. Both of
    the wave's size paths run on the same inputs: the small-wave one
    (no salt phase, one-task sort) and the large-wave one (salted rank,
    range-partitioned sort)."""
    from pyspark.sql import functions as F

    from basic_common_crawl_pipeline_spark.operators.ordering import (
        global_seq_assign,
        global_seq_sorted,
    )
    from basic_common_crawl_pipeline_spark.operators.politeness import rank_per_host_topk
    from basic_common_crawl_pipeline_spark.plans.wave import frontier_from_seeds

    frontier = frontier_from_seeds(seeds).persist()
    delay = F.coalesce("crawl_delay", F.lit(config.default_crawl_delay))
    eligible = (
        frontier.join(pages.select(F.col("url").alias("canon_url"), "status", "lang"), "canon_url")
        .filter((F.col("status") == 200) & F.array_contains(
            F.transform(F.split("lang", ","), F.trim), config.language))
        .join(F.broadcast(robots), "host", "left")
        .select("canon_url", "host", "surt", "priority",
                F.greatest(F.lit(1), F.floor(F.lit(config.wave_seconds) / delay)).alias("budget"))
        .persist()
    )
    eligible.count()
    out = {}
    for small, suffix in ((True, ""), (False, "_large")):
        ranked = rank_per_host_topk(eligible, salt_partitions=1 if small else config.salt_partitions)
        out[f"politeness.rank{suffix}_s"] = _median_time(lambda: _noop(ranked))
        selected = ranked.filter("__selected").drop("__selected", "budget").persist()
        selected.count()

        def sequence():
            cache: list = []
            sorted_sel = global_seq_sorted(
                selected, ["priority", "surt", "canon_url"], cache=cache, single_partition=small
            )
            counts = {r[0]: r[1] for r in sorted_sel.groupBy("__pid").count().collect()}
            _noop(global_seq_assign(sorted_sel, counts))
            for df in cache:
                df.unpersist()

        out[f"ordering.seq{suffix}_s"] = _median_time(sequence)
        selected.unpersist()
    for df in (eligible, frontier):
        df.unpersist()
    return out


def warc_probes(cdx) -> dict:
    """``fetch_warc_records`` alone and with ``extract_responses`` on top,
    over the CDX rows ``eligible_filter`` keeps, each to a noop sink."""
    from pyspark.sql import functions as F

    from basic_common_crawl_pipeline_spark.functions.cdx import eligible_filter
    from basic_common_crawl_pipeline_spark.sources.warc import (
        extract_responses,
        fetch_warc_records,
    )

    eligible = eligible_filter(cdx, status_col="status", languages_col="lang")
    n_ok, read_bytes = eligible.agg(F.count("*"), F.sum("length")).collect()[0]
    return {
        "warc.fetch_s": _median_time(lambda: _noop(fetch_warc_records(eligible))),
        "warc.extract_s": _median_time(
            lambda: _noop(extract_responses(fetch_warc_records(eligible)))
        ),
        "warc.read_mb": read_bytes / 1e6,
        "cdx.eligible_ratio": n_ok / cdx.count(),
    }
