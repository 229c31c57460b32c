"""Deterministic global sequence assignment (SURVEY.md §2.5 B3).

Spark makes no cross-partition ordering promises, so crawl-order sequence
numbers are assigned with a two-phase scheme that is exact under any
parallelism and any partition-boundary placement:

1. range-repartition + sort on the total ORDER_KEY (global sort);
2. count rows per sorted partition, prefix-sum the counts on the driver
   (one tiny collect of ≤ #partitions longs — NOT the data);
3. second pass adds ``offset[partition] + local_rank``.

Because the key is total, the resulting ``seq`` is independent of where
range boundaries fall — ``local[8]`` and ``local[32]`` produce identical
sequences (tested in test_determinism.py). This replaces the
single-partition ``Window.orderBy()`` anti-pattern, which serializes the
whole dataset through one task at 100 TB.

The two phases are exposed separately (``global_seq_sorted`` +
``global_seq_assign``) so a caller that already runs a per-wave count job
can fold the per-partition counts into it instead of paying a dedicated
offsets action — plans/wave.py collects them inside its single
metrics/frontier job. ``with_global_seq`` is the standalone one-call API
over the same shape: it counts and numbers one persisted sort, since two
executions of a range exchange each sample their own bounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def check_pid_layout(parted: DataFrame, n_parts: int, seen_pids) -> None:
    """Loud invariant for every two-phase ``spark_partition_id()`` shape
    (keyed_prefix_sum, asof_join, global sequencer): the driver-side
    summary was computed for one physical partition layout, and the
    consumer's window/join applies it BY ``__pid`` — a layout change
    between the two executions silently misnumbers rows. Stability rests
    on (a) an EXPLICIT repartition count (AQE-coalescing-exempt) and
    (b) an internal persist whose storage level spills to DISK rather
    than evicting to recompute (re-executing the range sampler can move
    boundaries). This check turns a violated assumption into an error:

    - the materialized frame must not exceed the requested partition
      count (the range partitioner may deterministically produce FEWER
      on tiny/low-cardinality inputs — that is fine and stable — but
      MORE means the explicit count was re-planned);
    - every summary pid must lie in ``[0, actual)`` of the materialized
      frame — a pid outside it means the summary execution saw a
      different layout than the cached blocks the consumer will read.

    Best-effort (ADVICE r5): a recompute that yields the SAME partition
    count with shifted range boundaries (pids renumbered within
    ``[0, actual)``) passes both checks undetected — the guard catches
    count growth and out-of-range pids, not same-count boundary drift;
    the persist/explicit-count discipline above is what actually
    prevents that case.
    """
    actual = parted.rdd.getNumPartitions()
    if actual > n_parts:
        raise AssertionError(
            f"two-phase pid layout violated: requested {n_parts} "
            f"partitions but the materialized frame has {actual} — "
            "explicit-count repartition was coalesced/re-planned; "
            "__pid-keyed carry state would misnumber rows"
        )
    bad = sorted({p for p in seen_pids if not 0 <= p < actual})
    if bad:
        raise AssertionError(
            f"two-phase pid layout violated: summary pids {bad} outside "
            f"[0, {actual}) — spark_partition_id() drifted between "
            "executions (persist storage level must not evict to "
            "recompute)"
        )


def global_seq_sorted(
    df: DataFrame,
    order_cols: list[str],
    cache: list | None = None,
    single_partition: bool = False,
) -> DataFrame:
    """Phase 1: range-repartition + sort on the total ``order_cols`` key,
    with a ``__pid`` physical-partition column for the offsets count.
    Pass a list as ``cache`` to persist the sorted intermediate (so the
    counting job materializes it and the assignment pass does NOT re-run
    the global sort); the handle is appended and the caller owns
    unpersisting it.

    ``single_partition=True`` sorts in ONE task instead: the right
    physical choice when the caller knows the input is broadcast-sized
    (range partitioning pays a sampling pass + boundary computation that
    a small sort doesn't need). Identical output either way — the
    offsets/assignment phase is partition-count-agnostic."""
    base = (
        df.repartition(1)
        if single_partition
        else df.repartitionByRange(*order_cols)
    )
    sorted_df = base.sortWithinPartitions(*order_cols)
    sorted_df = sorted_df.withColumn("__pid", F.spark_partition_id())
    if cache is not None:
        sorted_df = sorted_df.persist()
        cache.append(sorted_df)
    return sorted_df


def global_seq_assign(
    sorted_df: DataFrame,
    pid_counts: dict[int, int],
    seq_col: str = "seq",
    start: int = 1,
) -> DataFrame:
    """Phase 2: given ``{__pid: row_count}`` (from any counting job over
    ``sorted_df``), prefix-sum the offsets on the driver and add
    ``seq_col`` in a narrow JVM projection: ``seq`` = the offset of the
    row's ``__pid`` (a literal map) + the row's index in its partition
    (``monotonically_increasing_id()`` minus the partition's high bits).
    Range partitions are ascending in ``__pid``, so prefix-summing in pid
    order yields the global rank.

    The same expression raises (``raise_error``) when a row's physical
    partition is not its ``__pid``, or its index reaches its partition's
    count: a layout that changed between the count and this pass errors
    instead of misnumbering. Being part of ``seq_col``'s own expression,
    the guard survives column pruning whenever ``seq_col`` is read."""
    first: dict[int, int] = {}
    end: dict[int, int] = {}
    acc = start
    for pid in sorted(pid_counts):
        first[pid] = acc
        acc += pid_counts[pid]
        end[pid] = acc

    def by_pid(table: dict[int, int]):
        literal = F.create_map(
            *[F.lit(x) for kv in table.items() for x in kv]
        ).cast("map<int,bigint>")
        return literal[F.col("__pid")]

    pid = F.spark_partition_id()
    names = [c for c in sorted_df.columns if c != "__pid"]
    # the row index gets its own projection: monotonically_increasing_id
    # is stateful, so it must be evaluated exactly once per row
    indexed = sorted_df.withColumn(
        "__idx",
        F.monotonically_increasing_id() - F.shiftleft(pid.cast("long"), 33),
    )
    seq = by_pid(first) + F.col("__idx")
    ok = (pid == F.col("__pid")) & (seq < by_pid(end))
    seq = F.when(ok, seq).otherwise(
        F.raise_error(
            F.concat(
                F.lit("global_seq_assign: the sorted layout changed between "
                      "the count and the numbering (row of __pid "),
                F.col("__pid").cast("string"),
                F.lit(" in partition "),
                pid.cast("string"),
                F.lit(")"),
            )
        )
    )
    return indexed.select(*names, seq.alias(seq_col))


def with_global_seq(
    df: DataFrame,
    order_cols: list[str],
    seq_col: str = "seq",
    start: int = 1,
    *,
    cache: list,
) -> DataFrame:
    """Add ``seq_col`` = global rank (start, start+1, …) in the total order
    of ``order_cols``. The key must be total (no ties) for determinism.

    The offsets count and the numbering read ONE persisted sort
    (``global_seq_sorted(cache=cache)``): run twice, the range exchange
    would sample its bounds twice and cut different ranges, and the
    numbering guard would raise. The cache is appended to ``cache``; the
    caller unpersists it once the result has been read."""
    sorted_df = global_seq_sorted(df, order_cols, cache=cache)
    pid_counts = {
        row["__pid"]: row["count"]
        for row in sorted_df.groupBy("__pid").count().collect()
    }
    return global_seq_assign(sorted_df, pid_counts, seq_col=seq_col, start=start)
