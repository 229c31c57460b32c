"""The benchmark's workloads. Each one generates its inputs from the seed,
fills the engine's caches, warms up with untimed calls, then makes
timed calls through the engine's public entry points only, and checks
the outputs of its last call against a reference computed outside every
timed region.

- ``many_waves`` — a politeness-limited multi-wave crawl
  (``plans.crawl.run_crawl`` with a ``SnapshotStore``).
- ``warc_ingest`` — CDX eligibility filter, WARC range fetch and
  extraction (``functions.cdx`` and ``sources.warc``), in batches.
"""

from __future__ import annotations

import dataclasses
import glob
import hashlib
import json
import os
import shutil
import statistics
import time
from contextlib import nullcontext
from dataclasses import dataclass

import gen
import probes
from spans import Tracer, job_counts

from basic_common_crawl_pipeline_spark.plans.config import CrawlConfig


@dataclass
class Call:
    run_s: float
    marks: list[float]  # seconds from the call's start to each wave/batch end
    units: int  # URLs fetched and extracted
    mem_mb: float  # peak PSS of the process tree during the call
    out: object = None  # what check() compares: a store dir or aggregates
    metrics: list | None = None

    @property
    def steps(self) -> list[float]:
        """Times between successive wave (or batch) ends."""
        return [b - a for a, b in zip(self.marks, self.marks[1:])]


def _md5(data) -> str | None:
    if data is None:
        return None
    return hashlib.md5(data.encode() if isinstance(data, str) else data).hexdigest()


def _cached(path: str, compute):
    """The reference digest at ``path``, computed once per
    (workload, seed, parameters) and kept for later runs."""
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    value = compute()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(value, f)
    os.replace(path + ".tmp", path)
    return value


class Workload:
    name = ""
    n_pages = 0
    # the crawl a workload runs (many_waves) or probes (warc_ingest):
    # production defaults, 16 s of politeness budget per host per wave
    config = CrawlConfig(wave_seconds=16.0, max_waves=2)

    def __init__(self, run_dir: str, ref_dir: str) -> None:
        self.run_dir = run_dir
        self.ref_dir = ref_dir
        self.inputs: gen.Inputs | None = None
        self._n = 0

    def _fresh_dir(self, kind: str) -> str:
        self._n += 1
        return os.path.join(self.run_dir, f"{kind}-{self._n}")

    def _ref_path(self, seed: int) -> str:
        params = json.dumps(
            [self.n_pages, dataclasses.asdict(self.config)], sort_keys=True
        )
        tag = hashlib.md5(params.encode()).hexdigest()[:10]
        return os.path.join(self.ref_dir, f"{self.name}-{seed}-{tag}.json")

    def generate(self, spark, seed: int) -> None:
        self.seed = seed
        self.inputs = gen.generate(self.n_pages, seed)

    def discard(self, call: Call) -> None:
        pass

    # -- traced run ----------------------------------------------------------

    def crawl_layers(self, spark, tracer: Tracer, call: Call) -> dict:
        """crawl/wave/snapshots metrics from a traced ``run_crawl`` call."""
        spans = tracer.spans
        root = next(s for s in spans if s.name == "crawl.run_crawl")
        seeds = next(s for s in spans if s.name == "crawl.frontier_from_seeds")
        seed_count = min(
            (s for s in spans if s.name == "spark.count" and s.start >= seeds.end),
            key=lambda s: s.start,
        )
        waves = sorted((s for s in spans if s.name == "wave.run_wave"), key=lambda s: s.start)
        gaps = [waves[0].start - seed_count.end] + [
            b.start - a.end for a, b in zip(waves, waves[1:])
        ]
        actions = [
            sum(c.dur for c in spans if c.parent == w.id and c.name.startswith("spark."))
            for w in waves
        ]
        sc = spark.sparkContext
        per_wave = [
            job_counts(sc, sc.statusTracker().getJobIdsForGroup(f"{tracer.run_id}:wave-{k}"))
            for k in range(len(waves))
        ]
        m = call.metrics
        total = {k: sum(w.get(k, 0) for w in m) for k in m[0]}
        seed_s = seed_count.end - seeds.start
        out = {
            "crawl.seed_s": seed_s,
            "crawl.gap_s": sum(gaps),
            "crawl.tail_s": root.end - waves[-1].end,
            "wave.plan_s": statistics.median(w.dur - a for w, a in zip(waves, actions)),
            "wave.action_s": statistics.median(actions),
            "wave.jobs": statistics.median(c["jobs"] for c in per_wave),
            "wave.stages": statistics.median(c["stages"] for c in per_wave),
            "wave.tasks": statistics.median(c["tasks"] for c in per_wave),
            "wave.selected_ratio": total["selected"] / (total["selected"] + total["deferred"]),
            "wave.miss_ratio": total["misses"] / total["candidates"],
            "wave.new_link_ratio": total["frontier_size"] / max(total["discovered"], 1),
            "wave.extract_ok_ratio": total["extracted"] / max(total["selected"], 1),
            "snapshots.commit_s": statistics.median(
                s.dur for s in spans if s.name == "snapshots.commit"
            ),
            "snapshots.written_mb": _du_mb(call.out),
        }
        covered = seed_s + sum(w.dur for w in waves) + out["crawl.gap_s"] + out["crawl.tail_s"]
        self.annotations = {"crawl_span_sum_over_run_s": covered / call.run_s}
        return out


def _span(tracer: Tracer | None, name: str, **attrs):
    return nullcontext() if tracer is None else tracer.span(name, **attrs)


def _du_mb(path: str) -> float:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    ) / 1e6


def _crawl_call(spark, frames, config, store_dir, tracer=None) -> Call:
    from basic_common_crawl_pipeline_spark.plans.crawl import run_crawl
    from basic_common_crawl_pipeline_spark.sources.snapshots import SnapshotStore

    pages, seeds, robots = frames
    marks: list[float] = []

    def progress(_metrics):
        marks.append(time.perf_counter())
        if tracer is not None:
            tracer.set_group(f"gap-{len(marks) - 1}")

    with probes.PeakMemory() as mem, _span(tracer, "crawl.run_crawl"):
        t0 = time.perf_counter()
        state = run_crawl(spark, pages, seeds, robots, config,
                          store=SnapshotStore(store_dir), progress=progress)
        run_s = time.perf_counter() - t0
    return Call(
        run_s=run_s,
        marks=[m - t0 for m in marks],
        units=sum(m["selected"] for m in state.metrics),
        mem_mb=mem.mb,
        out=store_dir,
        metrics=state.metrics,
    )


class ManyWaves(Workload):
    """12k pages, one in ~8 seeded, 16 URLs per host per wave (8 for the
    slow host) over two waves, each committed. Every host has more
    eligible seeds than its budget, so the number of URLs a wave selects
    barely depends on the seed: the run is per-wave fixed cost —
    planning, Spark jobs, the commit — and the frontier stays under
    ``broadcast_threshold``."""

    name = "many_waves"
    n_pages = 12_000
    # wave 0 alone: every wave runs the same plan, and a second warm-up
    # wave would add a third of a run's wall time
    warmup_config = dataclasses.replace(Workload.config, max_waves=1)

    def fill(self, spark) -> None:
        self.frames = gen.to_spark(spark, self.inputs)

    def warmup(self, spark) -> None:
        self.discard(_crawl_call(spark, self.frames, self.warmup_config, self._fresh_dir("store")))

    def call(self, spark, tracer=None) -> Call:
        return _crawl_call(spark, self.frames, self.config, self._fresh_dir("store"), tracer)

    def discard(self, call: Call) -> None:
        shutil.rmtree(call.out, ignore_errors=True)

    def reference(self) -> dict:
        from basic_common_crawl_pipeline_spark.plans.oracle import run_oracle

        def compute():
            ref = run_oracle(self.inputs.pages, self.inputs.seeds, self.inputs.robots, self.config)
            return {
                "order": [[r["seq"], r["wave"], r["url"], r["host"], r["priority"]]
                          for r in ref.crawl_order],
                "seen": sorted(ref.seen),
                "text": {u: _md5(t) for u, t in ref.extracted.items()},
            }

        return _cached(self._ref_path(self.seed), compute)

    def check(self, spark, call: Call) -> tuple[int, int]:
        """(rows checked, rows differing): crawl order, the seen set and
        the md5 of every extracted text, against ``run_oracle``."""
        from basic_common_crawl_pipeline_spark.plans.crawl import collect_outputs
        from basic_common_crawl_pipeline_spark.sources.snapshots import SnapshotStore

        ref = self.reference()
        order, results, seen = collect_outputs(spark, SnapshotStore(call.out))
        got_order = [[r["seq"], r["wave"], r["url"], r["host"], r["priority"]] for r in order]
        got_text = {r["canon_url"]: _md5(r["text"]) for r in results}
        ref_seen = set(ref["seen"])
        texts = got_text.keys() | ref["text"].keys()
        checked = max(len(got_order), len(ref["order"])) + len(seen | ref_seen) + len(texts)
        differing = (
            sum(a != b for a, b in zip(got_order, ref["order"]))
            + abs(len(got_order) - len(ref["order"]))
            + len(seen ^ ref_seen)
            + sum(got_text.get(u) != ref["text"].get(u) for u in texts)
        )
        return checked, differing

    def layers(self, spark, tracer: Tracer, call: Call) -> dict:
        from basic_common_crawl_pipeline_spark.sources.warc import write_warc_corpus

        out = self.crawl_layers(spark, tracer, call)
        out.update(probes.function_probes(self.inputs.pages))
        out.update(probes.frontier_probes(spark, *self.frames, self.config))
        sample = self.frames[0].limit(2000)
        cdx = write_warc_corpus(spark, sample, self._fresh_dir("warc"),
                                carry_cols=("lang", "status"), status_col="status")
        out.update(probes.warc_probes(cdx))
        return out


class WarcIngest(Workload):
    """8k generated pages written once, during set-up, as
    member-per-record .warc.gz files plus a CDX carrying status and
    lang. The timed call is the reference's batcher/worker dataflow:
    ``eligible_filter`` -> ``fetch_warc_records`` -> ``extract_responses``,
    one aggregate per CDX batch. No crawl code runs in it."""

    name = "warc_ingest"
    n_pages = 8_000
    batches = 2
    # a call takes 1.5-3 s, and calls keep getting faster for about four
    warmup_calls = 4

    def generate(self, spark, seed: int) -> None:
        from basic_common_crawl_pipeline_spark.sources.warc import write_warc_corpus

        super().generate(spark, seed)
        self.frames = gen.to_spark(spark, self.inputs)
        self.warc_dir = self._fresh_dir("warc")
        self.cdx = write_warc_corpus(spark, self.frames[0], self.warc_dir,
                                     carry_cols=("lang", "status"), status_col="status")

    def fill(self, spark) -> None:
        self.cdx = self.cdx.persist()
        self.cdx.count()

    def warmup(self, spark) -> None:
        for _ in range(self.warmup_calls):
            self.call(spark)

    def _batch_frame(self, b: int):
        from pyspark.sql import functions as F

        from basic_common_crawl_pipeline_spark.functions.cdx import eligible_filter
        from basic_common_crawl_pipeline_spark.sources.warc import (
            extract_responses,
            fetch_warc_records,
        )

        batch = self.cdx.filter(F.pmod(F.xxhash64("url"), F.lit(self.batches)) == b)
        return extract_responses(fetch_warc_records(
            eligible_filter(batch, status_col="status", languages_col="lang")
        ))

    def call(self, spark, tracer=None) -> Call:
        from pyspark.sql import functions as F

        marks, aggs = [], []
        with probes.PeakMemory() as mem, _span(tracer, "warc.ingest"):
            t0 = time.perf_counter()
            for b in range(self.batches):
                out = self._batch_frame(b).agg(
                    F.count("*").alias("n"),
                    F.sum("n_bytes").alias("bytes"),
                    F.sum(F.length("text")).alias("chars"),
                    F.bit_xor(F.xxhash64("payload_md5", "text")).alias("digest"),
                )
                with _span(tracer, "warc.batch", batch=b):
                    aggs.append(out.collect()[0].asDict())
                marks.append(time.perf_counter() - t0)
            run_s = time.perf_counter() - t0
        return Call(run_s=run_s, marks=marks, units=sum(a["n"] for a in aggs),
                    mem_mb=mem.mb, out=aggs)

    def reference(self) -> dict:
        """Per eligible url: (status, body bytes, body md5, text md5) from
        a sequential ``iter_warc_file`` + ``extract_text`` loop."""
        from basic_common_crawl_pipeline_spark.functions.extract import (
            extract_text,
            split_http_response,
        )
        from basic_common_crawl_pipeline_spark.sources.warc import iter_warc_file

        lang = self.config.language
        eligible = {
            p["url"] for p in self.inputs.pages
            if p["status"] == 200 and p["lang"] is not None
            and lang in {t.strip() for t in p["lang"].split(",")}
        }

        def compute():
            rows = {}
            for path in sorted(glob.glob(os.path.join(self.warc_dir, "*.warc.gz"))):
                for headers, block in iter_warc_file(path):
                    url = headers.get("WARC-Target-URI")
                    if headers.get("WARC-Type") != "response" or url not in eligible:
                        continue
                    body = split_http_response(block)
                    status = int(block.split(b"\r\n", 1)[0].split(b" ")[1])
                    rows[url] = [status, len(body), _md5(body), _md5(extract_text(body))]
            return rows

        return _cached(self._ref_path(self.seed), compute)

    def check(self, spark, call: Call) -> tuple[int, int]:
        """(rows checked, rows differing) over every batch's rows, plus
        each batch aggregate's count and byte sum."""
        from pyspark.sql import functions as F

        ref = self.reference()
        got = {}
        for b in range(self.batches):
            for r in self._batch_frame(b).select(
                "url", "status", "n_bytes", "payload_md5", F.md5("text").alias("t")
            ).collect():
                got[r["url"]] = [r["status"], r["n_bytes"], r["payload_md5"], r["t"]]
        urls = got.keys() | ref.keys()
        differing = sum(got.get(u) != ref.get(u) for u in urls)
        n_ref = len(ref)
        bytes_ref = sum(v[1] for v in ref.values())
        differing += (sum(a["n"] for a in call.out) != n_ref) + (
            sum(a["bytes"] for a in call.out) != bytes_ref
        )
        return len(urls) + 2, differing

    def layers(self, spark, tracer: Tracer, call: Call) -> dict:
        out = {}
        # crawl layers from a short traced crawl over this workload's pages
        crawl_tracer = Tracer(spark.sparkContext, tracer.run_id + "-crawl").install()
        try:
            crawl = _crawl_call(spark, self.frames, self.config,
                                self._fresh_dir("store"), crawl_tracer)
        finally:
            crawl_tracer.uninstall()
        out.update(self.crawl_layers(spark, crawl_tracer, crawl))
        tracer.spans.extend(crawl_tracer.spans)
        out.update(probes.function_probes(self.inputs.pages))
        out.update(probes.frontier_probes(spark, *self.frames, self.config))
        out.update(probes.warc_probes(self.cdx))
        return out


WORKLOADS = {w.name: w for w in (ManyWaves, WarcIngest)}
