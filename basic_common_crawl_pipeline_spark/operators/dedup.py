"""Deduplication operators for large-scale training-data pipelines:
exact, MinHash+LSH, SimHash, n-gram Jaccard (north-rule additions; the
reference explicitly lacks dedup — /root/reference/Readme.md:24,228).

Design for 10^10-document scale:
- every stage is shuffle-on-key DataFrame ops (no driver-side state);
- hash functions are md5-prefix based so each operator has an exact
  DuckDB SQL oracle (cross-engine determinism beats raw speed of
  xxhash64 here; swap `_hash64_expr` to ``F.xxhash64`` in production);
- LSH banding turns the O(n²) pair problem into a per-band equi-join —
  the shuffle key is (band_id, band_hash), so skew only arises from
  genuinely repeated content, which is what AQE skew handling is for.
"""

from __future__ import annotations

import re
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.numeric import round4
from ..functions.textstats import norm_text, word_ngrams, word_tokens
from .spread import spread_input


def _hash64_expr(col):
    """Deterministic cross-engine 60-bit hash: first 15 hex digits of md5.
    DuckDB equivalent: ('0x' || substr(md5(x),1,15))::BIGINT."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def exact_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    prefix_tokens: int | None = None,
) -> DataFrame:
    """Exact duplicate grouping by md5 of normalized text (optionally only
    the first ``prefix_tokens`` tokens — prefix dedup). Returns one row
    per group: (fingerprint, keep_id = min id, dup_count)."""
    if prefix_tokens is None:
        key = F.md5(norm_text(text_col))
    else:
        key = F.md5(
            F.array_join(F.slice(word_tokens(text_col), 1, prefix_tokens), " ")
        )
    return (
        df.select(F.col(id_col).alias("id"), key.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min("id").alias("keep_id"),
            F.count("*").alias("dup_count"),
        )
    )


def shingle_table(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """(id, shingle) distinct word-n-gram table — the input of MinHash and
    of exact Jaccard.

    The tokenize+shingle projection is the CPU-heavy part and runs at the
    SCAN's parallelism: a small single-file parquet arrives as one split
    (below openCostInBytes no splitting happens at all), serializing 5-6 s
    of per-doc expression work through one task (measured on the bench
    corpus). Spread few-FILE inputs to the session's shuffle width first
    via the shared adaptive helper (operators/spread.py) — no-op for
    many-file / non-file-backed / already-repartitioned inputs."""
    df = spread_input(df, id_col)
    return (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(word_ngrams(text_col, n)).alias("shingle"),
        )
        .distinct()
    )


def minhash_signatures(shingles: DataFrame, k: int = 8) -> DataFrame:
    """(id, mh_0..mh_{k-1}): k salted min-hashes per document. Min over
    md5 hex strings — string min is deterministic and engine-portable."""
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("shingle")))).alias(f"mh_{i}")
        for i in range(k)
    ]
    return shingles.groupBy("id").agg(*aggs)


def _cap_cells(
    banded: DataFrame,
    cell_cap: int | None,
    keys: tuple[str, str] = ("band_id", "band_key"),
) -> DataFrame:
    """Hot-cell guard shared by every band self-join (same shape as
    operators/similarity.py::neardup_pairs): drop band cells holding more
    than ``cell_cap`` members BEFORE the self-join. A boilerplate-heavy
    web corpus concentrates thousands of near-identical pages into ONE
    (band_id, band_key) cell, and the self-join then materializes
    O(cell²) pairs in a single join cell — the one shape AQE skew
    splitting cannot fix (it splits a partition, not a join-key cell).
    The members of a dropped cell still pair up through their other
    bands' (smaller) cells, so recall degrades gracefully rather than
    the job dying; a cell at the cap is by definition near-duplicate
    mass that exact-dedup or a per-cell representative pass should have
    removed first. ``cell_cap=None`` disables (exact oracle mode)."""
    if cell_cap is None:
        return banded
    # anti-join against the HOT set, not equi-join against the kept set:
    # hot cells are ~0 rows on a healthy corpus (every cell is one
    # partial-agg pass + a broadcast of almost nothing), while kept
    # cells ≈ all cells — shipping those through a shuffle join would
    # cost more than the guard saves. The hot set is bounded by
    # n_rows/cell_cap, so the broadcast can never blow up.
    hot_cells = (
        banded.groupBy(*keys)
        .agg(F.count("*").alias("cell_n"))
        .filter(F.col("cell_n") > cell_cap)
        .select(*keys)
    )
    return banded.join(F.broadcast(hot_cells), list(keys), "left_anti")


def banded_signatures(
    signatures: DataFrame, bands: int = 4, rows_per_band: int = 2
) -> DataFrame:
    """(id, band_id, band_key): one row per (document, band) — the LSH
    bucket table every candidate join (self- or cross-corpus) equi-joins
    on."""
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.concat_ws(
                    "|",
                    *[
                        F.col(f"mh_{b * rows_per_band + r}")
                        for r in range(rows_per_band)
                    ],
                ).alias("band_key"),
            )
            for b in range(bands)
        ]
    )
    return signatures.select(
        "id", F.explode(band_structs).alias("band")
    ).select("id", "band.band_id", "band.band_key")


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = 4,
    rows_per_band: int = 2,
    cell_cap: int | None = 100_000,
) -> DataFrame:
    """Band the signature (bands × rows_per_band columns) and equi-join on
    (band_id, band_key) → candidate pairs (a < b), distinct. Cells over
    ``cell_cap`` are dropped first (``_cap_cells``); the default is far
    above anything the gate corpora produce, so oracle equality is
    unaffected while a 100-TB hot band stays bounded."""
    banded = banded_signatures(signatures, bands, rows_per_band)
    banded = _cap_cells(banded, cell_cap)
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            on=[
                F.col("l.band_id") == F.col("r.band_id"),
                F.col("l.band_key") == F.col("r.band_key"),
                F.col("l.id") < F.col("r.id"),
            ],
        )
        .select(F.col("l.id").alias("a"), F.col("r.id").alias("b"))
        .distinct()
    )


def jaccard_for_pairs(shingles: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact Jaccard similarity for candidate pairs:
    |A∩B| via shingle equi-join, |A∪B| = |A|+|B|-|A∩B|."""
    sizes = shingles.groupBy("id").agg(F.count("*").alias("n"))
    # intersection size via double equi-join on (id, shingle)
    sh_a = shingles.select(F.col("id").alias("a"), "shingle")
    sh_b = shingles.select(F.col("id").alias("b"), "shingle")
    inter = (
        pairs.join(sh_a, "a")
        .join(sh_b, ["b", "shingle"])
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter.join(sizes.select(F.col("id").alias("a"), F.col("n").alias("n_a")), "a")
        .join(sizes.select(F.col("id").alias("b"), F.col("n").alias("n_b")), "b")
        .select(
            "a",
            "b",
            # round4, NOT F.round: Spark's Round goes through BigDecimal and
            # tie-breaks differently from the DuckDB oracle's floor formula
            # (CLAUDE.md cross-engine rule) — e.g. 2469/20000 = 0.12345.
            round4(
                F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            ).alias("jaccard"),
        )
    )


def minhash_lsh_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    bands: int = 4,
    rows_per_band: int = 2,
    threshold: float = 0.5,
    cell_cap: int | None = 100_000,
    *,
    cache: list,
) -> DataFrame:
    """Full MinHash→LSH→verify near-dup pipeline → (a, b, jaccard ≥ t).

    Shingles and signatures are persisted internally: the shingle table
    is consumed FOUR times (signature agg, both sides of the exact-
    Jaccard intersection join, sizes) and the signature table three
    (both self-join sides plus the hot-cell count), so without the
    caches the interpreted shingle construction re-runs for each —
    measured 17% on the whole pipeline at sf0.1 (interleaved best-of-3,
    5.5 vs 6.7 s at local[32]), and the ``cell_cap`` guard's count job
    reads cached blocks instead of re-deriving the signature lineage.
    Both persists go in ``cache``; the caller unpersists them once the
    result is read."""
    shingles = shingle_table(df, id_col, text_col, shingle_n).persist()
    sigs = minhash_signatures(shingles, bands * rows_per_band).persist()
    cache += [shingles, sigs]
    cands = lsh_candidate_pairs(sigs, bands, rows_per_band, cell_cap)
    return jaccard_for_pairs(shingles, cands).filter(
        F.col("jaccard") >= threshold
    )


def incremental_dedup(
    new_df: DataFrame,
    old_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    bands: int = 4,
    rows_per_band: int = 2,
    threshold: float = 0.5,
    cell_cap: int | None = 100_000,
) -> DataFrame:
    """Cross-snapshot dedup: check a NEW batch of documents against an
    OLD (already-curated) corpus — the continuous-crawl shape. A fresh
    Common-Crawl-style wave must be deduplicated against *everything
    already collected*; re-clustering the whole 10^10-document corpus
    per wave is not an option, so every join here probes the huge old
    side with a broadcast of the small new wave (the ``decontaminate``
    discipline: the fat side is scanned once per leg and its text never
    shuffles).

    Two legs, both new-vs-old only (within-batch duplicates are
    ``exact_dedup``/``minhash_lsh_dedup``'s job):

    - exact:   md5(norm_text) equality → earliest matching old id;
    - near:    MinHash band cells of the new wave broadcast against the
      old corpus's (precomputable) band table → candidate (new, old)
      pairs → exact-Jaccard verify over old shingles *semi-joined down
      to candidate ids first* (shuffle volume bounded by matches, not
      by the old corpus).

    Requires ids to be unique ACROSS both frames. Returns one row per
    new document: (id, exact_old_id, near_old_id, n_near, best_jaccard,
    keep) — nullable match columns, ``keep`` ∈ {0,1} BIGINT. At 100-TB
    scale the old side's signatures/bands are written once per snapshot
    and only appended to; ``minhash_signatures``/``banded_signatures``
    are the materialization points. Hot old-side band cells beyond
    ``cell_cap`` are excluded from pairing (``_cap_cells``), bounding
    the per-cell fan-out on boilerplate-heavy corpora."""
    k = bands * rows_per_band
    # Adaptive spread (operators/spread.py): the fingerprint and shingle
    # projections of BOTH sides are per-row-heavy; a 1-split scan would
    # serialize them (shingle_table's own spread then no-ops on the
    # already-repartitioned lineage).
    new_df = spread_input(new_df, id_col)
    old_df = spread_input(old_df, id_col)

    def fps(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col).alias("id"),
            F.md5(norm_text(text_col)).alias("fingerprint"),
        )

    new_fp, old_fp = fps(new_df), fps(old_df)
    # old corpus scanned narrow (id, fingerprint) against a broadcast
    # hash of the wave's distinct fingerprints; matches are ≤ wave-sized
    exact = (
        old_fp.join(
            F.broadcast(new_fp.select("fingerprint").distinct()), "fingerprint"
        )
        .groupBy("fingerprint")
        .agg(F.min("id").alias("exact_old_id"))
    )

    new_sh = shingle_table(new_df, id_col, text_col, shingle_n)
    old_sh = shingle_table(old_df, id_col, text_col, shingle_n)
    banded_new = banded_signatures(minhash_signatures(new_sh, k), bands, rows_per_band)
    banded_old = _cap_cells(
        banded_signatures(minhash_signatures(old_sh, k), bands, rows_per_band),
        cell_cap,
    )
    cand = (
        banded_old.join(
            F.broadcast(
                banded_new.select(
                    F.col("id").alias("a"), "band_id", "band_key"
                )
            ),
            ["band_id", "band_key"],
        )
        .select("a", F.col("id").alias("b"))
        .distinct()
    )
    # restrict old shingles to candidate ids BEFORE the Jaccard join —
    # the verify shuffle carries matched documents only
    old_sh_cand = old_sh.join(
        F.broadcast(cand.select(F.col("b").alias("id")).distinct()),
        "id",
        "left_semi",
    )
    near = (
        jaccard_for_pairs(new_sh.unionByName(old_sh_cand), cand)
        .filter(F.col("jaccard") >= threshold)
        .groupBy("a")
        .agg(
            F.min("b").alias("near_old_id"),
            F.count("*").alias("n_near"),
            F.max("jaccard").alias("best_jaccard"),
        )
    )
    return (
        new_fp.join(F.broadcast(exact), "fingerprint", "left")
        .join(
            F.broadcast(near.withColumnRenamed("a", "id")), "id", "left"
        )
        .select(
            "id",
            "exact_old_id",
            "near_old_id",
            F.coalesce("n_near", F.lit(0)).cast("long").alias("n_near"),
            "best_jaccard",
            (F.col("exact_old_id").isNull() & F.col("near_old_id").isNull())
            .cast("long")
            .alias("keep"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    block_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.1,
) -> DataFrame:
    """Exact n-gram Jaccard for all pairs within a blocking key (e.g.
    same source) — the brute-force baseline to MinHash's approximation."""
    ids = df.select(
        F.col(id_col).alias("id"), F.col(block_col).alias("block")
    )
    pairs = (
        ids.alias("l")
        .join(
            ids.alias("r"),
            on=[
                F.col("l.block") == F.col("r.block"),
                F.col("l.id") < F.col("r.id"),
            ],
        )
        .select(F.col("l.id").alias("a"), F.col("r.id").alias("b"))
    )
    shingles = shingle_table(df, id_col, text_col, shingle_n)
    return jaccard_for_pairs(shingles, pairs).filter(
        F.col("jaccard") >= threshold
    )


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
) -> DataFrame:
    """(id, simhash): bitwise-majority SimHash over word-token hashes.

    token hash = md5-prefix 60-bit int; bit j of the simhash is 1 iff
    Σ_tokens (2·bit_j(hash) − 1) > 0. Pure relational: explode tokens →
    per-bit signed sums → recombine. One shuffle (groupBy id).
    """
    df = spread_input(df, id_col)
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(word_tokens(text_col)).alias("tok"),
    ).withColumn("h", _hash64_expr(F.col("tok")))
    sums = toks.groupBy("id").agg(
        *[
            F.sum(
                (F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) * 2 - 1)
            ).alias(f"s_{j}")
            for j in range(bits)
        ]
    )
    combined = reduce(
        lambda acc, j: acc
        + F.when(F.col(f"s_{j}") > 0, F.lit(2**j).cast("long")).otherwise(
            F.lit(0).cast("long")
        ),
        range(bits),
        F.lit(0).cast("long"),
    )
    return sums.select("id", combined.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 16,
    chunks: int = 4,
    max_hamming: int = 3,
    cell_cap: int | None = 100_000,
    *,
    cache: list,
) -> DataFrame:
    """Near-dup pairs within Hamming distance ``max_hamming`` of each
    other's SimHash — the actual dedup use of the signatures.

    The signature frame persists internally: it feeds the hot-cell
    count and both self-join sides, and the SimHash aggregation
    (per-word hash explode + groupBy) is the pipeline's dominant cost —
    2.7× end-to-end at sf0.1 (4.3 → 1.6 s, interleaved best-of-3).
    It goes in ``cache``; the caller unpersists it once the result is
    read.

    Banded Hamming-neighbor join: split the signature into ``chunks``
    equal bit-slices and equi-join on (chunk_id, chunk_key). By
    pigeonhole, two signatures at distance ≤ chunks-1 share at least one
    identical chunk — so with max_hamming < chunks the banding is EXACT
    (recall 1.0), not approximate. One shuffle on the chunk key; the
    final bit_count(xor) verify is codegen'd JVM arithmetic.

    ``cell_cap`` drops over-full chunk cells before the self-join
    (``_cap_cells``); with a cap engaged the pigeonhole exactness claim
    weakens to "exact among pairs whose shared chunk cell is under the
    cap" — the price of not detonating on a boilerplate-heavy corpus."""
    if max_hamming >= chunks:
        raise ValueError("exactness needs max_hamming < chunks (pigeonhole)")
    sh = simhash(df, id_col, text_col, bits).persist()
    cache.append(sh)
    chunk_bits = bits // chunks
    mask = (1 << chunk_bits) - 1
    structs = F.array(
        *[
            F.struct(
                F.lit(c).alias("chunk_id"),
                F.shiftright(F.col("simhash"), c * chunk_bits)
                .bitwiseAND(F.lit(mask))
                .cast("long")
                .alias("chunk_key"),
            )
            for c in range(chunks)
        ]
    )
    # the signature rides THROUGH the banding (one extra long per
    # banded row) so the Hamming verify runs INLINE on the candidate
    # rows — no sim-value lookup joins over the (dense-corpus-huge)
    # pair set, and the distinct dedupes the post-filter survivors
    # only. Measured 2.2× vs distinct-then-two-joins at sf0.1 (2.8M
    # pairs). On a dense near-dup corpus the pair VOLUME itself is the
    # cost floor; run exact-dedup first, as the cap docstring says.
    banded = sh.select("id", "simhash", F.explode(structs).alias("c")).select(
        "id", "simhash", "c.chunk_id", "c.chunk_key"
    )
    banded = _cap_cells(banded, cell_cap, keys=("chunk_id", "chunk_key"))
    return (
        banded.alias("l")
        .join(
            banded.alias("r"),
            on=[
                F.col("l.chunk_id") == F.col("r.chunk_id"),
                F.col("l.chunk_key") == F.col("r.chunk_key"),
                F.col("l.id") < F.col("r.id"),
            ],
        )
        .select(
            F.col("l.id").alias("a"),
            F.col("r.id").alias("b"),
            F.expr("bit_count(l.simhash ^ r.simhash)")
            .cast("long")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def line_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document LINE deduplication — the RefinedWeb/CCNet
    boilerplate-removal pass that runs BELOW document granularity: drop
    every non-empty line whose exact text occurs in at least ``min_docs``
    DISTINCT documents (cookie banners, nav menus, footers), keep every
    other line in original order. Returns one row per input document:
    ``(id_col, n_lines, n_kept, text_deduped)``; a document whose every
    line is boilerplate comes back with ``text_deduped = ''`` (the row is
    never lost). Within-doc repeats do NOT make a line a duplicate (the
    count is distinct-doc), and empty lines are never dropped.

    Scale shape (10^10 docs): the duplicated-line set is the Zipf head —
    tiny relative to the corpus — so it is ONE hash-aggregate on the
    60-bit line hash (map-side partial combine: the shuffle carries one
    row per distinct line per input partition, never one per
    occurrence), then a join back BY HASH marks lines for removal and a
    groupBy on the unique document id (skew-free by construction)
    reassembles the survivors with an in-group array_sort — no window,
    no per-line shuffle beyond the one the mark join needs. Matching is
    by the 60-bit hash on BOTH engines (operator and oracle), so
    cross-engine equality is by construction, not collision-probability.
    """
    # ``sep`` is a LITERAL separator; F.split takes a Java regex, so
    # escape it (re.escape backslash-quotes punctuation only, which Java
    # regex reads identically) — an unescaped '.', '|' or '\r\n'-style
    # caller value would otherwise split per-character or wrong.
    # Adaptive spread first: the split+posexplode+hash projection is the
    # per-row-heavy part and otherwise runs at a 1-split scan's width.
    df = spread_input(df, id_col)
    sep_re = re.escape(sep)
    lines = df.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.col(text_col), sep_re)
        ).alias("__pos", "__line"),
    ).withColumn("__h", _hash64_expr(F.col("__line")))
    dup = (
        lines.filter(F.col("__line") != "")
        .groupBy("__h")
        .agg(F.countDistinct(F.col(id_col)).alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("__h", F.lit(True).alias("__dup"))
    )
    keep = F.col("__dup").isNull()
    return (
        lines.join(dup, "__h", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_lines"),
            F.count(F.when(keep, True)).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                keep, F.struct(F.col("__pos"), F.col("__line"))
                            )
                        )
                    ),
                    lambda x: x["__line"],
                ),
                sep,
            ).alias("text_deduped"),
        )
    )


def span_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    id_scale: int = 1_000_000,
    *,
    cache: list,
) -> DataFrame:
    """Exact duplicate-SPAN removal — substring-level dedup in the
    Lee-et-al. "Deduplicating Training Data" discipline, one level below
    ``line_dedup``: every word ``n``-gram window whose exact text occurs
    anywhere else in the corpus is removed EXCEPT its globally-first
    occurrence (ordered by ``(doc id, token position)``); overlapping and
    adjacent duplicated windows merge into maximal spans, and the
    surviving tokens are reassembled in order. Returns one row per input
    document: ``(id_col, n_tokens, n_spans, n_dup_tokens, n_kept,
    text_deduped)`` — a fully-duplicated document comes back with
    ``text_deduped = ''``, never a lost row.

    Scale shape (10^10 docs): the gram table is built ONCE and keyed by
    a 60-bit BIGINT gram hash (8 B/gram, not a 32-char md5 string).
    The first-occurrence mark is hot-gram-safe: persist the gram table
    (one materialization — MEMORY_AND_DISK, so at scale it spills
    exactly like a shuffle file would), mark firsts with a
    map-side-combined ``groupBy(__h).agg(min, count)`` — partial mins
    combine BELOW the exchange, so no task ever holds a whole gram group
    even for a boilerplate gram repeated 10^9 times — then inner-join
    only the ``count >= 2`` groups (the Zipf head; singletons satisfy
    ``packed == first`` trivially and never needed marking) back against
    the cached grams. Measured at sf0.1: 5.0 s vs 6.5 s for a
    ``min(packed) over (partition by hash)`` window mark, whose hot gram
    is one window task. Only ``(doc, position)`` pairs flow after the
    mark; the text itself never shuffles until the final reassembly
    groupBy on the unique document id, and per-document windows are
    bounded by document length, never corpus skew. The gram table's
    persist goes in ``cache``; the caller unpersists it once the result
    is read. ``id_scale`` packs (id, pos) into one BIGINT for the
    cross-engine-exact first-occurrence min; ids must be non-negative
    and documents shorter than ``id_scale`` tokens.
    """
    from pyspark.sql import Window

    # Adaptive spread first: both derived tables (toks + grams) pay the
    # tokenize/n-gram projection, which otherwise runs at a 1-split
    # scan's width (operators/spread.py).
    df = spread_input(df, id_col)
    toks = df.select(
        F.col(id_col),
        F.posexplode(word_tokens(text_col)).alias("__idx", "__tok"),
    )
    grams = df.select(
        F.col(id_col),
        F.posexplode(word_ngrams(text_col, n)).alias("__pos", "__gram"),
    ).select(id_col, "__pos", _hash64_expr(F.col("__gram")).alias("__h"))
    packed = F.col(id_col).cast("long") * id_scale + F.col("__pos")
    grams = grams.persist()
    cache.append(grams)
    firsts = (
        grams.groupBy("__h")
        .agg(F.min(packed).alias("__first"), F.count("*").alias("__c"))
        .filter(F.col("__c") >= 2)
        .drop("__c")
    )
    marked = grams.join(firsts, "__h")
    dupw = marked.filter(packed != F.col("__first")).select(id_col, "__pos")
    w = Window.partitionBy(id_col).orderBy("__pos")
    isl = dupw.withColumn(
        "__brk",
        F.when(
            F.lag("__pos").over(w).isNull()
            | (F.col("__pos") > F.lag("__pos").over(w) + n),
            1,
        ).otherwise(0),
    ).withColumn("__island", F.sum("__brk").over(w))
    spans = isl.groupBy(id_col, "__island").agg(
        F.min("__pos").alias("__s"),
        (F.max("__pos") + (n - 1)).alias("__e"),
    )
    covered = spans.select(
        F.col(id_col),
        F.posexplode(F.sequence(F.col("__s"), F.col("__e"))).alias(
            "__k", "__idx"
        ),
    ).select(id_col, "__idx", (F.col("__k") == 0).alias("__start"))
    keep = F.col("__start").isNull()
    return (
        toks.join(covered, [id_col, "__idx"], "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.count(F.when(F.col("__start"), True)).alias("n_spans"),
            F.count(F.when(~keep, True)).alias("n_dup_tokens"),
            F.count(F.when(keep, True)).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                keep, F.struct(F.col("__idx"), F.col("__tok"))
                            )
                        )
                    ),
                    lambda x: x["__tok"],
                ),
                " ",
            ).alias("text_deduped"),
        )
    )


def minhash_signature_cols(
    text_col: str, shingle_n: int = 3, k: int = 8
) -> F.Column:
    """Per-ROW MinHash signature as an ``array<string>`` column — the
    aggregation-free twin of ``minhash_signatures`` (same ``min md5(i|
    shingle)`` arithmetic; min over an array equals min over the
    grouped explode, duplicates included, since min ignores
    multiplicity). Because it is a pure column expression it is legal
    on a STREAMING DataFrame before any stateful operator — the reason
    it exists. NULL elements for shingle-less (short) documents."""
    sh = word_ngrams(text_col, shingle_n)

    # NB: a two-parameter lambda (even `lambda s, i=i: ...`) makes
    # PySpark pass the (element, index) form — the salt must close over
    # i with a SINGLE-arg lambda or the index column shadows it.
    def salted(i: int):
        prefix = f"{i}|"
        return lambda s: F.md5(F.concat(F.lit(prefix), s))

    return F.array(
        *[F.array_min(F.transform(sh, salted(i))) for i in range(k)]
    )


def incremental_dedup_streaming(
    new_df: DataFrame,
    old_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    bands: int = 4,
    rows_per_band: int = 2,
    est_threshold: float = 0.5,
) -> DataFrame:
    """Streaming-legal cross-snapshot dedup: the continuous-curation
    shape where a crawl wave ARRIVES AS A STREAM and is checked
    against the static curated corpus in-flight. Differences from the
    batch ``incremental_dedup`` dictated by the streaming model:

    - the near leg verifies by MINHASH SIGNATURE AGREEMENT (fraction of
      equal components, ``est_threshold``) instead of exact Jaccard —
      exact verification needs a per-pair shingle-intersection
      aggregate, i.e. TWO chained stateful aggregations, which
      Structured Streaming does not allow; the signature estimate is
      computable per candidate ROW from the two signature arrays;
    - every stream row keeps flowing through stream-static LEFT joins
      (the static side is the one that aggregates/broadcasts), and the
      ONLY stateful operator is the final per-doc groupBy — drain with
      ``output_mode="complete"``.

    Works identically on a batch ``new_df`` (same plan, minus the
    micro-batching), which is what the DuckDB oracle checks. Returns
    one row per new doc: (id, exact_old_id, near_old_id, n_near,
    best_est, keep)."""
    k = bands * rows_per_band

    exact_map = (
        old_df.select(F.md5(norm_text(text_col)).alias("fingerprint"),
                      F.col(id_col).alias("__oid"))
        .groupBy("fingerprint")
        .agg(F.min("__oid").alias("exact_old_id"))
    )

    def with_sig(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col).alias("id"),
            F.md5(norm_text(text_col)).alias("fingerprint"),
            minhash_signature_cols(text_col, shingle_n, k).alias("sig"),
        )

    def banded(df: DataFrame, sig_alias: str) -> DataFrame:
        band_structs = F.array(
            *[
                F.struct(
                    F.lit(b).alias("band_id"),
                    F.concat_ws(
                        "|",
                        *[
                            F.col("sig")[b * rows_per_band + r]
                            for r in range(rows_per_band)
                        ],
                    ).alias("band_key"),
                )
                for b in range(bands)
            ]
        )
        return df.select(
            "id", F.col("sig").alias(sig_alias),
            F.explode(band_structs).alias("band"),
        ).select("id", sig_alias, "band.band_id", "band.band_key")

    old_banded = (
        banded(with_sig(old_df), "__osig")
        .select(
            F.col("id").alias("__b"), "__osig", "band_id", "band_key"
        )
        # shingle-less old docs carry band_key '' — never real matches
        .filter(F.col("band_key") != "")
    )

    new_sig = with_sig(new_df).join(
        exact_map, "fingerprint", "left"
    )
    # exact_old_id rides THROUGH the banding explode and folds back in
    # the one aggregation: joining the aggregate against a second
    # branch of the stream would be a (forbidden) stream-stream join.
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.concat_ws(
                    "|",
                    *[
                        F.col("sig")[b * rows_per_band + r]
                        for r in range(rows_per_band)
                    ],
                ).alias("band_key"),
            )
            for b in range(bands)
        ]
    )
    new_banded = new_sig.select(
        "id",
        "exact_old_id",
        F.col("sig").alias("__nsig"),
        F.explode(band_structs).alias("band"),
    ).select("id", "exact_old_id", "__nsig", "band.band_id", "band.band_key")
    cand = new_banded.join(
        old_banded, ["band_id", "band_key"], "left"
    )
    est = (
        F.aggregate(
            F.zip_with(
                "__nsig",
                "__osig",
                lambda x, y: F.when(x == y, 1).otherwise(0),
            ),
            F.lit(0),
            lambda acc, v: acc + v,
        )
        / F.lit(float(k))
    )
    hit = F.when(est >= est_threshold, F.col("__b"))
    scored = cand.select(
        "id",
        "exact_old_id",
        hit.alias("__hit"),
        F.when(hit.isNotNull(), round4(est)).alias("__est"),
    )
    return (
        scored.groupBy("id")
        .agg(
            F.min("exact_old_id").alias("exact_old_id"),
            F.min("__hit").alias("near_old_id"),
            F.size(
                F.array_distinct(
                    F.filter(
                        F.collect_list("__hit"), lambda x: x.isNotNull()
                    )
                )
            )
            .cast("long")
            .alias("n_near"),
            F.max("__est").alias("best_est"),
        )
        .select(
            "id",
            "exact_old_id",
            "near_old_id",
            "n_near",
            "best_est",
            (
                F.col("exact_old_id").isNull()
                & F.col("near_old_id").isNull()
            )
            .cast("long")
            .alias("keep"),
        )
    )
