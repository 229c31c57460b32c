"""Iceberg-style snapshot store over Parquet (SURVEY.md §4).

The sandbox has no Iceberg runtime jars, so resumable crawl state uses an
Iceberg-semantics-compatible layout that swaps cleanly for
``df.writeTo(...).append()`` when a real catalog is configured:

    <root>/<table>/snap-<N>/part-*.parquet   immutable snapshot data
    <root>/manifest-<N>.json                 tables + row counts + extras
    <root>/CURRENT                           atomically-renamed pointer

Commit protocol (``commit``, the only writer of a manifest): write all
tables' parquet, write ``manifest-<N>.json``, then ``os.replace`` a temp
file onto ``CURRENT`` — the pointer flip is the single atomic commit
point, exactly Iceberg's snapshot-pointer semantics. Each manifest is
written before the CURRENT flip that names it, and no write touches a
manifest that CURRENT already names. Resume = read ``CURRENT`` → manifest → tables; a crash
mid-write leaves ``CURRENT`` at snapshot N-1 and the job re-runs wave N
deterministically (the at-least-once redelivery story of the reference
queue — rust/src/rabbitmq.rs:74-81 — replaced by deterministic recompute
+ atomic commit, SURVEY.md §3.3).

A table is either a full replacement (one ``path``) or an append table
(a ``paths`` chain of per-snapshot deltas). Committing an append table
whole, as a full replacement, is the rewrite-data-files analog: the
crawl folds seen that way inside a wave's own commit once its chain
reaches Spark's serial-listing limit (``plans/crawl.py``), and the next
append starts its chain from that one path.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession


class SnapshotStore:
    def __init__(self, root: str) -> None:
        self.root = root
        os.makedirs(root, exist_ok=True)

    @property
    def _current_path(self) -> str:
        return os.path.join(self.root, "CURRENT")

    def current_snapshot(self) -> int | None:
        try:
            with open(self._current_path) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return None

    def commit(
        self,
        snapshot: int,
        tables: dict[str, DataFrame],
        extra: dict | None = None,
        append_tables: dict[str, DataFrame] | None = None,
    ) -> dict:
        """Write all tables for ``snapshot`` and atomically flip CURRENT.

        ``tables`` are full replacements (the frontier changes shape every
        wave). ``append_tables`` are Iceberg-append semantics: only THIS
        snapshot's delta is written; the manifest records the accumulated
        path list, so grow-only tables (seen, crawl_order, results) cost
        O(delta) I/O per commit instead of a cumulative rewrite —
        O(total²) over a long crawl otherwise. Re-running a crashed wave
        overwrites the same snap-N delta path and rebuilds the path list
        from the PREDECESSOR manifest (snapshot-1) — not from CURRENT —
        so replay stays idempotent AND a snapshot numbering that restarts
        at 1 over a directory holding older manifests starts from empty
        append chains instead of splicing a previous run's deltas in.
        An append after a whole write of the same table (it was in the
        predecessor's ``tables``) starts its chain from that one path."""
        manifest: dict = {"snapshot": snapshot, "tables": {}, "extra": extra or {}}
        try:
            prev = self.read_manifest(snapshot - 1)
        except FileNotFoundError:
            prev = None
        writes: list[tuple[str, DataFrame, str]] = []
        for name, df in tables.items():
            path = os.path.join(self.root, name, f"snap-{snapshot}")
            writes.append((name, df, path))
            manifest["tables"][name] = {"path": path}
        for name, df in (append_tables or {}).items():
            path = os.path.join(self.root, name, f"snap-{snapshot}")
            writes.append((name, df, path))
            prev_entry = (prev or {"tables": {}})["tables"].get(name, {})
            if "path" in prev_entry:  # a whole write starts the chain
                prev_entry = {"paths": [prev_entry["path"]]}
            paths = [p for p in prev_entry.get("paths", []) if p != path] + [path]
            manifest["tables"][name] = {"paths": paths}
        # the table writes are independent Spark jobs: submit them from
        # threads so the scheduler overlaps them (per-wave commit latency
        # = slowest write, not the sum); CURRENT flips only after ALL
        # writes returned, so atomicity is unchanged
        from concurrent.futures import ThreadPoolExecutor

        def _write(job):
            _name, df, path = job
            df.write.mode("overwrite").parquet(path)

        with ThreadPoolExecutor(max_workers=min(4, max(len(writes), 1))) as ex:
            list(ex.map(_write, writes))
        manifest_path = os.path.join(self.root, f"manifest-{snapshot}.json")
        with open(manifest_path, "w") as f:
            json.dump(manifest, f, indent=2)
        tmp = self._current_path + f".tmp-{snapshot}"
        with open(tmp, "w") as f:
            f.write(str(snapshot))
        os.replace(tmp, self._current_path)  # the atomic commit point
        return manifest

    def read_manifest(self, snapshot: int | None = None) -> dict | None:
        snap = self.current_snapshot() if snapshot is None else snapshot
        if snap is None:
            return None
        with open(os.path.join(self.root, f"manifest-{snap}.json")) as f:
            return json.load(f)

    def read_table(
        self, spark: SparkSession, name: str, snapshot: int | None = None
    ) -> DataFrame:
        manifest = self.read_manifest(snapshot)
        if manifest is None or name not in manifest["tables"]:
            raise FileNotFoundError(f"no snapshot table {name!r} in {self.root}")
        entry = manifest["tables"][name]
        if "paths" in entry:  # append-table: union of all committed deltas
            return spark.read.parquet(*entry["paths"])
        return spark.read.parquet(entry["path"])
