"""Custom stateful streaming operator via ``applyInPandasWithState``
(G1 north-rule addition; the reference's only state is queue redelivery).

``stateful_user_totals`` keeps running per-user (event count, value sum)
across micro-batches — the streaming analog of a crawl's per-host fetch
accounting. State is a per-key (count, sum) pair; every micro-batch emits
the updated totals for the keys it touched (output mode ``update``), so
the final row per key (highest count) is the complete aggregate —
order-insensitive, hence comparable to a plain GROUP BY oracle.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("sum_value", DoubleType()),
    ]
)

STATE_SCHEMA = StructType(
    [StructField("n", LongType()), StructField("s", DoubleType())]
)


def _update(
    key, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    n, s = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        s += float(pdf["value"].sum())
    state.update((n, s))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "sum_value": [s]}
    )


def stateful_user_totals(events_stream: DataFrame) -> DataFrame:
    """streaming events → running (count, sum(value)) per user_id."""
    return events_stream.groupBy("user_id").applyInPandasWithState(
        _update,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# streaming URL-seen dedup: the crawl's J2 seen-set as a streaming operator
# ---------------------------------------------------------------------------

import numpy as np  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.types import BinaryType, IntegerType, StringType  # noqa: E402

DEDUP_OUTPUT_SCHEMA = StructType([StructField("url", StringType())])
# state per hash partition: a FIXED-size Kirsch-Mitzenmacher bitset
# + a packed sorted uint64 digest array (8 bytes per inserted url)
DEDUP_STATE_SCHEMA = StructType(
    [StructField("bits", BinaryType()), StructField("digests", BinaryType())]
)


def _positions(h: np.ndarray, m_bits: int, k: int) -> np.ndarray:
    """Kirsch-Mitzenmacher: k positions from one 64-bit hash (vectorized).
    Returns array of shape (len(h), k)."""
    u = h.astype(np.uint64)
    h1 = (u >> np.uint64(32)).astype(np.int64)
    h2 = (u & np.uint64(0xFFFFFFFF)).astype(np.int64) | 1  # odd → full cycle
    i = np.arange(k, dtype=np.int64)
    return (h1[:, None] + i[None, :] * h2[:, None]) % m_bits


def _merge_sorted_digests(
    digests: np.ndarray, fresh_h: list[np.ndarray]
) -> np.ndarray:
    """Merge this batch's fresh digests into the (already sorted) state
    array: sort ONLY the fresh batch (O(b log b)) and splice it in with a
    single searchsorted + insert pass (O(n + b)). A full re-sort of the
    concatenation would be O((n+b) log(n+b)) PER MICRO-BATCH — at 10^8
    urls per partition that re-sort, not the membership probes, would
    dominate every batch."""
    fresh = np.sort(np.concatenate(fresh_h))
    if len(digests) == 0:
        return fresh
    return np.insert(digests, np.searchsorted(digests, fresh), fresh)


def _make_dedup_update(m_bits: int, k: int):
    def _dedup_update(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            bits_b, dig_b = state.get
            bits = np.frombuffer(bytes(bits_b), dtype=np.uint8).copy()
            digests = np.frombuffer(bytes(dig_b), dtype=np.uint64)
        else:
            bits = np.zeros(m_bits // 8, dtype=np.uint8)
            digests = np.empty(0, dtype=np.uint64)
        out: list[pd.Series] = []
        fresh_h: list[np.ndarray] = []
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            h = pdf["__h"].to_numpy(np.int64)
            hu = h.astype(np.uint64)
            # in-batch first occurrence (by digest, like the state layer)
            keep = ~pd.Series(hu).duplicated().to_numpy()
            # vs urls already admitted earlier in THIS micro-batch
            if fresh_h:
                batch_seen = np.concatenate(fresh_h)
                keep &= ~np.isin(hu, batch_seen)
            h, hu = h[keep], hu[keep]
            urls = pdf["url"].to_numpy(object)[keep]
            if len(h) == 0:
                continue
            pos = _positions(h, m_bits, k)
            hit = np.all(
                (bits[pos // 8] >> (pos % 8).astype(np.uint8)) & 1 == 1,
                axis=1,
            )
            # bloom-negative → definitely new, no digest search (the
            # common case for a crawl frontier); bloom-positive → exact
            # binary search in the sorted digest array
            new = ~hit
            if hit.any():
                q = hu[hit]
                found = np.zeros(len(q), dtype=bool)
                if len(digests):
                    idx = np.searchsorted(digests, q)
                    inb = idx < len(digests)
                    found[inb] = digests[idx[inb]] == q[inb]
                new[np.flatnonzero(hit)[~found]] = True
            if new.any():
                flat = pos[new].reshape(-1)
                np.bitwise_or.at(
                    bits, flat // 8, (1 << (flat % 8)).astype(np.uint8)
                )
                fresh_h.append(hu[new])
                out.append(pd.Series(urls[new]))
        if fresh_h:
            digests = _merge_sorted_digests(digests, fresh_h)
        state.update((bits.tobytes(), digests.tobytes()))
        yield pd.DataFrame(
            {
                "url": pd.concat(out, ignore_index=True)
                if out
                else pd.Series([], dtype=object)
            }
        )

    return _dedup_update


def stateful_seen_dedup(
    urls_stream: DataFrame,
    url_col: str = "url",
    partitions: int = 16,
    m_bits: int = 1 << 20,
    k: int = 7,
) -> DataFrame:
    """Streaming first-occurrence URL dedup: per-partition state is a
    Bloom bitset (``_positions``: Kirsch-Mitzenmacher positions of the
    url's xxhash64, partitions keyed by ``pmod(xxhash64(url), P)``),
    incremental across micro-batches, PLUS a packed sorted uint64 digest
    array consulted only for bloom-positive urls.

    Why the digest layer exists: an exact membership structure needs
    Ω(n) bits — a bloom alone would false-drop never-seen urls at its FP
    rate, so strictly-O(m_bits) state cannot be emission-exact. The
    digest array costs a flat 8 bytes per url regardless of url length
    (vs ~60-100 B/url for the previous in-state Python string set, with
    no per-batch re-sort of strings): at 10^10 urls over 1024 partitions
    that is ~78 MB per partition blob. The bitset keeps the common case
    (url definitely new) off the binary search entirely. Dedup identity
    is the xxhash64 digest — two distinct urls colliding in 64 bits
    would dedup together (P ≈ n²/2⁶⁵; the batch crawl's J2 anti-join
    stays string-exact).

    Each url is emitted exactly once (append mode), whichever batch it
    first arrives in; the emitted SET is order-independent, hence
    comparable to a ``SELECT DISTINCT`` oracle."""
    keyed = (
        urls_stream.select(F.col(url_col).alias("url"))
        .withColumn("__h", F.xxhash64("url"))
        .withColumn(
            "__part",
            F.pmod(F.col("__h"), F.lit(partitions)).cast(IntegerType()),
        )
    )
    return keyed.groupBy("__part").applyInPandasWithState(
        _make_dedup_update(m_bits, k),
        outputStructType=DEDUP_OUTPUT_SCHEMA,
        stateStructType=DEDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
