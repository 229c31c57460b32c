"""Temporal joins (north-rule additions; no reference analog — the
reference processes a static index snapshot). The crawl-shaped use is
"policy in effect at fetch time": join each capture to the latest
robots/config snapshot with ``snapshot_ts <= capture_ts``.

``asof_join`` is the canonical distributed AS-OF shape: union both
sides with a side tag, ONE range shuffle on (key, ts), sort within
partitions, and carry the last-observed right row forward
(last-observation-carried-forward). The naive alternative — theta-join
on ``r.ts <= l.ts`` then rank — materializes O(|L|·|R|) pairs per key
before pruning; the union form moves each row exactly once. Right rows
sort BEFORE left rows at equal timestamps, so a snapshot taken at T
applies to a probe at T (inclusive semantics).

Skew (10^10 rows): a per-key window (``Window.partitionBy(key)``) would
serialize a pathologically hot key through ONE task, and LOCF cannot be
salted the way top-k can (state crosses salt boundaries). The
implementation instead RANGE-partitions the union on (key, ts, …) — a
hot key spreads over many contiguous partitions — then runs the LOCF as
a window over the PHYSICAL partition id (bounded by partition size,
never key size) and repairs partition boundaries with driver-carried
state, the same two-phase shape as operators/ordering.py: two tiny
JVM aggregates summarize each partition (first/last key + its last
right row), the driver prefix-scans those into per-partition carry-in
packs (≤ #partitions rows collected, never data), and a broadcast join
feeds them back. Everything stays in whole-stage codegen — no Arrow
crossing anywhere.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .ordering import check_pid_layout


_ROLLUP_LEVELS = ("minute", "hour", "day")


def hypertable_rollup(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value_units",
    levels: tuple[str, ...] = _ROLLUP_LEVELS,
) -> DataFrame:
    """Hierarchical time-bucket rollup (the hypertable continuous-
    aggregate shape, the third brief-named operator class): one frame
    holding (level, bucket, key, n, sum_units, min_units, max_units)
    for every level, where each COARSER level re-aggregates the next
    finer one — the raw table is scanned exactly once and the minute
    level's output (tiny relative to raw) feeds hour, hour feeds day.
    At 100 TB that is the difference between one full scan and one per
    level. Requires mergeable aggregates and an EXACT value domain:
    ``value_col`` must be integral (count/sum/min/max of BIGINTs are
    associative, so sum-of-sums equals the direct sum bit-for-bit —
    double sums would differ between the re-aggregated and direct
    forms). ``levels`` must go finest → coarsest.

    The finest level is eagerly materialized (localCheckpoint — it runs
    a job at call time): the union references it once per level, and
    without a leaf the physical plan scans RAW once per level (verified:
    3 parquet scans, no exchange reuse across AQE union branches) —
    exactly the cost this operator exists to avoid."""
    finest = (
        events.groupBy(
            F.date_trunc(levels[0], F.col(ts_col)).alias("bucket"),
            F.col(key_col).alias("key"),
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(value_col).alias("sum_units"),
            F.min(value_col).alias("min_units"),
            F.max(value_col).alias("max_units"),
        )
        .localCheckpoint(eager=True)
    )
    out = finest.withColumn("level", F.lit(levels[0]))
    prev = finest
    for lvl in levels[1:]:
        prev = (
            prev.groupBy(
                F.date_trunc(lvl, F.col("bucket")).alias("bucket"), "key"
            )
            .agg(
                F.sum("n").alias("n"),
                F.sum("sum_units").alias("sum_units"),
                F.min("min_units").alias("min_units"),
                F.max("max_units").alias("max_units"),
            )
        )
        out = out.unionByName(prev.withColumn("level", F.lit(lvl)))
    return out.select(
        "level", "bucket", "key", "n", "sum_units", "min_units", "max_units"
    )


def bucketed_range_join(
    points: DataFrame,
    intervals: DataFrame,
    on: str,
    point_col: str,
    start_col: str,
    end_col: str,
    bucket_width: int,
) -> DataFrame:
    """Point-in-interval RANGE join (a brief-named operator Spark lacks
    natively), as an exact equi-join rewrite: every interval is exploded
    to the fixed-width grid cells it overlaps, each point lives in
    exactly ONE cell, and the equi-join on (key, cell) + the residual
    ``start <= point <= end`` filter returns precisely the theta-join
    result — no duplicates (a pair can only meet in the point's own
    cell) and no O(|P|·|I|)-per-key expansion: shuffle volume is
    |P| + Σ⌈len/width⌉ per interval. Pick ``bucket_width`` ≈ the typical
    interval length so intervals land in 1-2 cells.

    ``point_col``/``start_col``/``end_col`` must be integral (e.g.
    microsecond epochs) with ``start <= end``; all comparisons stay in
    exact integer arithmetic. Column names must be disjoint apart from
    ``on``."""
    p = points.withColumn(
        "__cell", F.floor(F.col(point_col) / F.lit(bucket_width)).cast("long")
    )
    i = intervals.withColumn(
        "__cell",
        F.explode(
            F.sequence(
                F.floor(F.col(start_col) / F.lit(bucket_width)).cast("long"),
                F.floor(F.col(end_col) / F.lit(bucket_width)).cast("long"),
            )
        ),
    )
    return (
        p.join(i, [on, "__cell"])
        .filter(
            (F.col(point_col) >= F.col(start_col))
            & (F.col(point_col) <= F.col(end_col))
        )
        .drop("__cell")
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    value_cols: tuple[str, ...] = ("value",),
    right_order: str | None = None,
    suffix: str = "_asof",
    cache: list | None = None,
) -> DataFrame:
    """Left as-of join: every ``left`` row, plus ``value_cols`` from the
    latest ``right`` row of the same ``on`` key with
    ``right_ts <= left_ts`` (null when no such row). Among right rows
    sharing (key, ts), the greatest ``right_order`` wins — pass one to
    make the pick total; defaults to the first value column. All carried
    values come from that ONE winning right row (a null in one of its
    value columns stays null — it is never backfilled from an older
    row): the carry is a single packed struct.

    The scale-safe two-phase shape (module docstring), ALL JVM:

    1. range-partition the tagged union on (key, ts, side, ord) and
       stamp ``__pid`` — a key now spans contiguous partitions, so no
       single task ever owns a whole hot key;
    2. ONE single-scan aggregate summarizes each partition (first key +
       globally latest right row, struct-packed via ``max_by``),
       collected (≤ #partitions rows) and prefix-scanned on the driver
       into per-partition carry-in packs;
    3. the fill is a window partitioned by ``__pid`` — bounded by
       PARTITION size, never key size — plus a broadcast join against
       the tiny carry table for rows before their partition's first
       in-partition right row.

    Everything stays in whole-stage codegen: no Arrow crossing, so
    64-bit integers and NULL-vs-NaN survive exactly. It runs one small
    summary action at call time and persists the partitioned union
    (pass a list as ``cache`` to own unpersisting it, as with
    operators/ordering.py)."""
    if right_order is None:
        right_order = value_cols[0]
    spark = left.sparkSession
    left_cols = left.columns
    out_vals = [f"{c}{suffix}" for c in value_cols]

    r = right.select(
        F.col(on),
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        F.col(right_order).alias("__ord"),
        *[F.col(c).alias(o) for c, o in zip(value_cols, out_vals)],
        *[F.lit(None).cast(left.schema[c].dataType).alias(c)
          for c in left_cols if c != on],
    )
    l = left.select(
        F.col(on),
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(right.schema[right_order].dataType).alias("__ord"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(o)
          for c, o in zip(value_cols, out_vals)],
        *[F.col(c) for c in left_cols if c != on],
    )
    un = r.unionByName(l)

    # EXPLICIT partition count: a bare repartitionByRange is subject to
    # AQE coalescing, and the coalesced layout can DIFFER between the
    # summary execution and the fill execution (measured: the summary
    # jobs once saw a 2-partition layout while the cached fill saw 8 —
    # carry state computed for one layout applied to another returns
    # wrong rows). An explicit count is exempt from coalescing and the
    # range sampler is deterministic, so __pid is the same in every
    # execution — even if cache blocks are evicted and recomputed.
    n_parts = int(
        spark.conf.get("spark.sql.shuffle.partitions", "200")
    )
    # persist is LOAD-BEARING (MEMORY_AND_DISK spills, never evicts to
    # recompute — a recompute re-runs the range sampler and can renumber
    # __pid between the summary and fill executions); check_pid_layout
    # below turns any layout drift into a loud error.
    parted = (
        un.repartitionByRange(n_parts, on, "__ts", "__side", "__ord")
        .withColumn("__pid", F.spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK_DESER)
    )
    if cache is not None:
        cache.append(parted)

    key_t = un.schema[on].dataType
    # phase A: boundary summaries as ONE single-scan aggregation (a
    # two-agg self-join here resolved ambiguously and silently mixed
    # rows across partitions — observed as wrong carry state; and a
    # single scan also materializes the cold cache race-free, the same
    # safe first-action shape as operators/ordering.py). Per partition:
    # the first key, plus the globally LATEST right row (by key, ts,
    # ord — left rows rank below every right row via the is-right flag,
    # so the max_by value is null exactly when the partition has no
    # right rows) tagged with its key.
    summ = parted.groupBy("__pid").agg(
        F.min(on).alias("__first_key"),
        F.max_by(
            F.when(
                F.col("__side") == 0,
                F.struct(
                    F.col(on).alias("__k"),
                    *[F.col(o) for o in out_vals],
                ),
            ),
            F.struct(
                (F.col("__side") == 0).cast("int").alias("__r"),
                F.col(on).alias("__ko"),
                F.col("__ts"),
                F.col("__ord"),
            ),
        ).alias("__pack"),
    )
    summaries = sorted(summ.collect(), key=lambda s: s["__pid"])
    check_pid_layout(parted, n_parts, [s["__pid"] for s in summaries])

    # driver prefix-scan (≤ #partitions rows): thread (state_key,
    # state_pack) = the globally latest right row seen so far. Keys are
    # range-contiguous, so partition p's carry-in is that state exactly
    # when state_key == first_key(p): a later right row of p's first
    # key before p would itself be the global latest (contradiction),
    # and state_key > first_key(p) is impossible by contiguity.
    carry_rows: list[tuple] = []
    state_key, state_pack = None, None
    for s in summaries:
        if state_pack is not None and s["__first_key"] == state_key:
            carry_rows.append((s["__pid"], state_key) + state_pack)
        if s["__pack"] is not None:
            state_key = s["__pack"]["__k"]
            state_pack = tuple(s["__pack"])[1:]
    carry_schema = T.StructType(
        [T.StructField("__pid", T.IntegerType()), T.StructField("__ck", key_t)]
        + [
            T.StructField(f"__cv_{o}", right.schema[c].dataType)
            for c, o in zip(value_cols, out_vals)
        ]
    )
    carry_df = spark.createDataFrame(carry_rows, schema=carry_schema)

    # phase B: partition-local LOCF — window over __pid (bounded by
    # partition size), carrying the last right row as ONE struct whose
    # key tags its validity; rows before their partition's first right
    # row of the same key fall through to the broadcast carry-in.
    w = (
        Window.partitionBy("__pid")
        .orderBy(
            F.col(on).asc(), F.col("__ts").asc(),
            F.col("__side").asc(), F.col("__ord").asc(),
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    rpack = F.when(
        F.col("__side") == 0,
        F.struct(
            F.col(on).alias("__k"), *[F.col(o).alias(o) for o in out_vals]
        ),
    )
    carried = parted.withColumn("__cp", F.last(rpack, ignorenulls=True).over(w))
    filled = carried.filter(F.col("__side") == 1).join(
        F.broadcast(carry_df), "__pid", "left"
    )
    same = F.col("__cp").isNotNull() & (F.col("__cp.__k") == F.col(on))
    use_carry = F.col("__ck").isNotNull() & (F.col("__ck") == F.col(on))
    return filled.select(
        *[F.col(c) for c in left_cols],
        *[
            F.when(same, F.col(f"__cp.{o}"))
            .when(use_carry, F.col(f"__cv_{o}"))
            .alias(o)
            for o in out_vals
        ],
    )
