"""Outside-in tracing for the traced run: spans recorded around the calls
into each engine layer, from this directory only (the engine is not
edited), plus Spark job/stage/task counts read through job groups.

A span is (id, name, start, end, parent, run id, thread). Spans stay in
memory and are written out as JSON lines when the run ends. The tracer
wraps, while installed:

- ``plans.crawl.frontier_from_seeds`` and ``plans.crawl.run_wave`` (the
  names ``run_crawl`` calls), setting a job group per wave;
- ``SnapshotStore.commit`` (runs on the crawl's committer thread);
- ``DataFrame.collect`` and ``DataFrame.count`` (the Spark actions).
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run: str
    thread: str
    attrs: dict

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc, run_id: str) -> None:
        self.sc = sc
        self.run_id = run_id
        self.spans: list[Span] = []
        self.groups: list[str] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next_id = 0
        self._root: int | None = None
        self._undo: list = []

    # -- spans ---------------------------------------------------------------

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        # a span opened on a thread with no open span (the committer)
        # belongs to the root span of the traced call
        parent = stack[-1] if stack else self._root
        if self._root is None:
            self._root = sid
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            stack.pop()
            if self._root == sid:
                self._root = None
            with self._lock:
                self.spans.append(
                    Span(sid, name, start, end, parent, self.run_id,
                         threading.current_thread().name, attrs)
                )

    def set_group(self, label: str) -> None:
        group = f"{self.run_id}:{label}"
        self.groups.append(group)
        self.sc.setJobGroup(group, label)

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    # -- patching ------------------------------------------------------------

    def _wrap(self, owner, attr: str, name: str, before=None) -> None:
        orig = getattr(owner, attr)
        tracer = self

        def wrapped(*args, **kwargs):
            if before is not None:
                before(kwargs)
            with tracer.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapped)
        self._undo.append((owner, attr, orig))

    def install(self) -> Tracer:
        from pyspark.sql.classic.dataframe import DataFrame

        from basic_common_crawl_pipeline_spark.plans import crawl
        from basic_common_crawl_pipeline_spark.sources.snapshots import SnapshotStore

        self._wrap(crawl, "frontier_from_seeds", "crawl.frontier_from_seeds",
                   before=lambda kw: self.set_group("seed"))
        self._wrap(crawl, "run_wave", "wave.run_wave",
                   before=lambda kw: self.set_group(f"wave-{kw['wave']}"))
        self._wrap(SnapshotStore, "commit", "snapshots.commit")
        self._wrap(DataFrame, "collect", "spark.collect")
        self._wrap(DataFrame, "count", "spark.count")
        return self

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)
        self.clear_group()

    def write(self, path) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(asdict(s)) + "\n")


def job_counts(sc, job_ids) -> dict:
    """Jobs, stages that ran, tasks, and failed tasks plus failed jobs of
    the given Spark jobs, read through ``sc.statusTracker()``. A stage
    shared by several jobs counts once; a skipped stage (its output
    reused) does not count."""
    st = sc.statusTracker()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "failed": 0}
    stages: set[int] = set()
    for jid in job_ids:
        out["jobs"] += 1
        job = st.getJobInfo(jid)
        if job is None:
            continue
        if job.status == "FAILED":
            out["failed"] += 1
        for sid in job.stageIds:
            stage = st.getStageInfo(sid)
            if sid in stages or stage is None:
                continue
            if stage.numCompletedTasks + stage.numFailedTasks == 0:
                continue
            stages.add(sid)
            out["stages"] += 1
            out["tasks"] += stage.numCompletedTasks
            out["failed"] += stage.numFailedTasks
    return out
