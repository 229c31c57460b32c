"""Adaptive input widening for few-split scans (optimization guide §2.5
"input skew": one huge unsplittable file → repartition immediately after
the read; §6 input split size).

A single-row-group parquet file arrives as ONE scan split no matter how
many cores the session has — the row group is parquet's minimum split
unit — so every per-row-heavy projection downstream of such a scan
(tokenize / shingle / n-gram / signature / interpreted higher-order
folds) serializes through one task. The driver's fixture tables are all
single-row-group files, which is why several "zero-shuffle scan" entries
measured flat across local[2..32] in earlier rounds.

``spread_input`` repartitions the frame to the session's shuffle width
FIRST, but only when the input is genuinely narrower than the session:

- the probe is ``DataFrame.inputFiles()`` (metadata only) — under AQE a
  ``.rdd.getNumPartitions()`` probe would force the final plan and
  EXECUTE upstream shuffle stages at DataFrame-construction time (the
  shingle_table lesson);
- a many-file input (the 100 TB case: millions of splits) or a
  non-file-backed frame returns unchanged, keeping the shuffle-free
  scale shape — the exchange exists only in the degenerate few-file
  layout where it buys cores;
- a frame whose lineage already contains an explicit repartition is
  returned unchanged, so catalog-level and operator-level spreads
  compose without stacking exchanges;
- the explicit partition count is exempt from AQE byte-coalescing (a
  bare ``repartition(col)`` of a few-MB corpus collapses back to 1
  partition — the round-2 gotcha).

``key=None`` round-robins (pure per-row map work: perfectly even);
passing the id column hash-partitions, which lets a downstream
``groupBy(id)`` at the same width reuse the exchange.

Known tradeoff (documented, accepted): one single FILE that is large
enough to split into many scan tasks still probes as "1 file" and takes
an unnecessary (cheap relative to its size) exchange; healthy large
inputs are many-file.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


_REPARTITION_NODES = {"Repartition", "RepartitionByExpression", "RebalancePartitions"}


def _has_repartition(plan) -> bool:
    """Whether a logical plan node (py4j) or any node under it is an
    explicit repartition — read from the node classes, so a column or
    alias that merely names one does not count."""
    stack = [plan]
    while stack:
        node = stack.pop()
        if node.getClass().getSimpleName() in _REPARTITION_NODES:
            return True
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return False


def spread_input(df: DataFrame, key: str | None = None) -> DataFrame:
    spark = df.sparkSession
    target = int(spark.conf.get("spark.sql.shuffle.partitions"))
    try:
        n_files = len(df.inputFiles())
    except Exception:
        return df
    if not (0 < n_files < target):
        return df
    if _has_repartition(df._jdf.queryExecution().analyzed()):
        return df
    if key is not None:
        return df.repartition(target, F.col(key))
    return df.repartition(target)
