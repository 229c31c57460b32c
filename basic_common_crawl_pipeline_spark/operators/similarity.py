"""Similarity search over embedding columns (north-rule addition).

Brute-force cosine top-k is the correctness baseline; the LSH-bucketed
variants are the scale path: **computed random-hyperplane signatures**
(sign of dot with K fixed seeded hyperplanes, packed into one BIGINT),
banded for the near-dup pair join and multi-probed (Hamming-ball) for
top-k. Everything is JVM-side Column arithmetic — no UDF anywhere.

Scale design (10^10 vectors):
- signatures are one narrow projection (K fused fold expressions per
  row, whole-stage codegen);
- the near-dup join shuffles on (band_id, band_key) — pair explosion is
  bounded to band-bucket collisions, and ``cell_cap`` drops pathological
  hot cells (a single hot bucket is otherwise an O(cell²) cartesian
  bomb); at production scale set bits-per-band so cells stay ~10³-10⁴;
- top-k probes the query's Hamming-≤r ball of buckets → the scan is a
  signature filter (partition-prunable if the table is laid out by
  signature prefix) instead of a full pass.

Arithmetic: all dot products/norms in double via ``F.aggregate`` over
``F.zip_with`` — sequential left-to-right fold, identical to the DuckDB
oracle's ordered SUM over unnest; scores and plane dots go through
``round4`` before any sign/threshold/rank decision so both engines make
identical calls.
"""

from __future__ import annotations

import random

import pandas as pd  # noqa: F401 — resolves pandas_udf type hints
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.numeric import round4
from .spread import spread_input

RH_SEED = 7


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


# SQL-text twins of _dot/_norm (identical arithmetic post-parse): the
# literal-heavy score expressions are generated as strings and parsed
# JVM-side in one F.expr call — py4j Column composition of a 64-element
# literal array costs ~0.2 s per array on this host (see
# _subspace_dists_sql for the full measurement).
_SQL_MUL = "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)"


def _dot_sql(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, {_SQL_MUL}), "
        "0.0D, (acc, x) -> acc + x)"
    )


def _norm_sql(vec_col: str) -> str:
    return f"sqrt({_dot_sql(f'`{vec_col}`', f'`{vec_col}`')})"


def _py_norm(vec: list[float]) -> float:
    """Driver-side twin of ``_norm`` for CONSTANT vectors: the identical
    left-to-right double accumulation (0.0 + x²₀ + x²₁ + …) the JVM fold
    performs, so substituting the Python result for the fold is
    bit-identical."""
    import math

    acc = 0.0
    for x in vec:
        fx = float(x)
        acc = acc + fx * fx
    return math.sqrt(acc)


def cosine_scores(
    df: DataFrame,
    query_vec: list[float],
    vec_col: str = "embedding",
    out_col: str = "cos",
) -> DataFrame:
    # the query norm is a CONSTANT: fold it in Python with the exact
    # same left-to-right double accumulation as _dot's JVM fold
    # (0.0 + x²₀ + x²₁ + …) — bit-identical, and the per-row plan drops
    # one 64-element interpreted fold. Built as SQL text (one F.expr
    # parse) — the _subspace_dists_sql py4j lesson.
    qn = _py_norm(query_vec)
    qlit = "array(" + ", ".join(_sql_d(x) for x in query_vec) + ")"
    return df.withColumn(
        out_col,
        F.expr(
            f"floor(((({_dot_sql(f'`{vec_col}`', qlit)})"
            f" / (({_norm_sql(vec_col)}) * {_sql_d(qn)}))"
            ") * 10000 + 0.5D) / 10000"
        ),
    )


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k: (id, cos) ordered by (cos desc, id)."""
    scored = cosine_scores(df, query_vec, vec_col)
    return (
        scored.select(F.col(id_col), F.col("cos"))
        .orderBy(F.col("cos").desc(), F.col(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# random-hyperplane LSH
# ---------------------------------------------------------------------------


def random_hyperplanes(
    n_planes: int = 8, dim: int = 64, seed: int = RH_SEED
) -> list[list[float]]:
    """K fixed Gaussian hyperplanes, seeded → identical on every run and
    embeddable as literals in the DuckDB oracle SQL. Values rounded to
    4 decimals so the literal parses to the same double everywhere."""
    rnd = random.Random(seed)
    return [
        [round(rnd.gauss(0.0, 1.0), 4) for _ in range(dim)]
        for _ in range(n_planes)
    ]


def rh_signature(
    df: DataFrame,
    planes: list[list[float]],
    vec_col: str = "embedding",
    out_col: str = "sig",
) -> DataFrame:
    """Packed signature: bit p = (round4(v·w_p) >= 0). The dot is rounded
    before the sign test so the bit decision is cross-engine identical.
    One F.expr parse (the _subspace_dists_sql py4j lesson)."""
    bits = []
    for p_idx, w in enumerate(planes):
        wlit = "array(" + ", ".join(_sql_d(x) for x in w) + ")"
        dot = (
            f"(floor(({_dot_sql(f'`{vec_col}`', wlit)}) * 10000 + 0.5D)"
            " / 10000)"
        )
        bits.append(
            f"(CASE WHEN {dot} >= 0 THEN CAST({1 << p_idx} AS BIGINT)"
            " ELSE CAST(0 AS BIGINT) END)"
        )
    return df.withColumn(
        out_col, F.expr("CAST(0 AS BIGINT) + " + " + ".join(bits))
    )


def _banded(sigs: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """(id, band_id, band_key): band b's key = the b-th rows_per_band-bit
    slice of the packed signature."""
    mask = (1 << rows_per_band) - 1
    structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.shiftright(F.col("sig"), b * rows_per_band)
                .bitwiseAND(F.lit(mask))
                .cast("long")
                .alias("band_key"),
            )
            for b in range(bands)
        ]
    )
    return sigs.select("id", F.explode(structs).alias("band")).select(
        "id", "band.band_id", "band.band_key"
    )


# the kernel verify paths collect the vectors to the driver and broadcast
# them as a float64 matrix: at most this many bytes (rows x dim x 8 B)
BROADCAST_VECTOR_BYTES = 64 << 20


def _vector_shape(vecs: DataFrame) -> tuple[int, int]:
    """(rows, widest vector) of ``vecs``' ``v`` column, in one job —
    which also fills ``vecs``' cache."""
    row = vecs.select(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.max(F.size("v")), F.lit(0)).alias("dim"),
    ).first()
    return row["n"], row["dim"]


def _collect_matrix(vecs: DataFrame, *extra: str) -> tuple:
    """(ids, float64 matrix, *extra columns) of an (id, v, ...) frame,
    id-sorted, collected through Arrow (``toPandas``), not as Rows."""
    import numpy as np

    pdf = vecs.select("id", "v", *extra).toPandas().sort_values("id")
    ids = pdf["id"].to_numpy(dtype=np.int64)
    mat = (
        np.stack(pdf["v"].to_numpy()).astype(np.float64)
        if len(pdf)
        else np.zeros((0, 1), dtype=np.float64)
    )
    return (ids, mat, *(pdf[c].to_numpy(dtype=np.float64) for c in extra))


def _np_norms(mat) -> "object":
    """Vector norms over a (n, dim) float64 matrix with the EXACT
    left-to-right per-dimension accumulation of ``_norm``'s JVM fold
    ((0.0 + v₀²) + v₁² + … then sqrt) — elementwise IEEE double ops are
    correctly rounded, so the result is bit-identical per row."""
    import numpy as np

    acc = np.zeros(mat.shape[0], dtype=np.float64)
    for j in range(mat.shape[1]):
        acc = acc + mat[:, j] * mat[:, j]
    return np.sqrt(acc)


def _pair_cos_kernel(spark, ids, mat, norms):
    """(a, b) id pair → round4 cosine, as an Arrow-vectorized batch
    kernel over a BROADCAST id-sorted matrix (guide §4.2): per batch,
    one numpy multiply-add per dimension accumulated in the JVM fold's
    exact left-to-right order, then the round4 floor formula — all
    elementwise IEEE double ops, so the value is bit-identical to the
    interpreted ``_dot``/``round4`` expression (pinned by the
    path-equality tests). The returned UDF is marked nondeterministic
    so the optimizer cannot push the (expensive) projection below an
    explicit-width repartition onto byte-coalesced partitions (guide
    §4.4's pushdown hazard)."""
    import numpy as np

    sc = spark.sparkContext
    b_ids = sc.broadcast(ids)
    b_mat = sc.broadcast(mat)
    b_norm = sc.broadcast(norms)

    @F.pandas_udf("double")
    def _pair_cos(a: pd.Series, b: pd.Series) -> pd.Series:
        import numpy as np

        vids, m, nn = b_ids.value, b_mat.value, b_norm.value
        ai = np.searchsorted(vids, a.to_numpy())
        bi = np.searchsorted(vids, b.to_numpy())
        mav, mbv = m[ai], m[bi]
        acc = np.zeros(len(mav), dtype=np.float64)
        for j in range(m.shape[1]):
            acc = acc + mav[:, j] * mbv[:, j]
        cos = acc / (nn[ai] * nn[bi])
        return pd.Series(np.floor(cos * 10000.0 + 0.5) / 10000.0)

    return _pair_cos.asNondeterministic()


def neardup_pairs(
    df: DataFrame,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: list[list[float]] | None = None,
    bands: int = 4,
    rows_per_band: int = 2,
    cell_cap: int = 100_000,
    cache: list | None = None,
    broadcast_max_bytes: int = BROADCAST_VECTOR_BYTES,
) -> DataFrame:
    """Embedding near-duplicates via banded random-hyperplane LSH:
    signature → band equi-join (cells over ``cell_cap`` rows dropped —
    the hot-bucket guard) → exact cosine verify ≥ threshold.
    Returns (a, b, cos) with a < b.

    Signatures and the norm-augmented vector frame persist internally
    (sigs feed the cap count + both band-join sides; vn feeds both
    verify sides) — a ~10% end-to-end win at sf0.1 (3.1 → 2.8 s,
    interleaved best-of-3; smaller than minhash's 17% because the
    hyperplane folds are cheaper than shingle aggregation). Pass
    ``cache`` to own the unpersists (asof_join convention)."""
    if planes is None:
        planes = random_hyperplanes(bands * rows_per_band)
    from .dedup import _cap_cells

    # Adaptive spread (operators/spread.py): the signature and norm
    # folds are per-row-heavy and otherwise run at a 1-split scan's
    # width; no-op for many-split inputs.
    df = spread_input(df)
    vecs = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    sigs = (
        rh_signature(vecs, planes, vec_col="v").select("id", "sig").persist()
    )
    if cache is not None:
        cache.append(sigs)
    banded = _banded(sigs, bands, rows_per_band)
    in_cells = _cap_cells(banded, cell_cap)
    left = in_cells.alias("l")
    right = in_cells.alias("r")
    pairs = (
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
    # norms as COLUMNS before the pair joins: the joins' exchanges
    # materialize one norm fold per ROW; norms inside the post-join
    # cosine projection would re-fold per PAIR (measured 2.6× slower
    # end-to-end at sf0.1). Same IEEE ops, same round4 — bit-identical.
    vn = vecs.withColumn("n", _norm(F.col("v"))).persist()
    if cache is not None:
        cache.append(vn)
    va = vn.select(
        F.col("id").alias("a"), F.col("v").alias("va"), F.col("n").alias("na")
    )
    vb = vn.select(
        F.col("id").alias("b"), F.col("v").alias("vb"), F.col("n").alias("nb")
    )
    # Verify strategy (r6, guide §3.1 + §4.2): candidate counts are
    # quadratic in cell size (the oracle-pinned 4-key band geometry makes
    # cells of n/4), so the verify dominates at scale two ways — its
    # exchanges carry a 64-float vector per pair side (measured 193 MB
    # for ~350k candidates at sf0.1), and the per-pair interpreted
    # zip_with fold costs ~40 µs (higher-order functions get no codegen).
    # When the vector matrix is bounded (``broadcast_max_bytes`` of
    # float64, counted over the persisted ``vn``), ship only the
    # (a, b) id pairs (explicit width — AQE byte-coalescing otherwise
    # ran the CPU-bound verify on 8 of 32 cores) and compute the cosine
    # in an Arrow-vectorized batch kernel against a broadcast matrix:
    # per batch, ONE numpy multiply-add per dimension, accumulated in
    # EXACTLY the fold's left-to-right order — IEEE double +/*,/,sqrt,
    # floor are correctly rounded elementwise in both engines, so the
    # round4 cosine is bit-identical to the JVM fold (pinned by
    # tests/test_operators.py equality of both paths). Norms are the
    # JVM-fold values collected from ``vn``, not recomputed. Past the
    # bound (10^10-vector corpora), keep the planner's shuffled joins +
    # JVM fold — vectors-per-pair is then unavoidable.
    width = int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    n_vecs, dim = _vector_shape(vn)
    if n_vecs * dim * 8 <= broadcast_max_bytes:
        # norms are the JVM-fold values straight from vn, not recomputed
        ids, mat, norms = _collect_matrix(vn, "n")
        pair_cos = _pair_cos_kernel(df.sparkSession, ids, mat, norms)
        scored = pairs.repartition(width).select(
            "a", "b", pair_cos("a", "b").alias("cos")
        )
    else:
        cos = round4(
            _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
        ).alias("cos")
        scored = (
            pairs.join(va, "a")
            .repartition(width, F.col("b"))
            .join(vb.repartition(width, F.col("b")), "b")
            .select("a", "b", cos)
        )
    return scored.filter(F.col("cos") >= threshold)


def cosine_topk_lsh(
    df: DataFrame,
    query_id,
    k: int = 10,
    max_hamming: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: list[list[float]] | None = None,
) -> DataFrame:
    """Multi-probe LSH top-k: scan only vectors whose signature lies in
    the query's Hamming-≤``max_hamming`` ball (with 8 planes and r=2
    that's 37 of 256 buckets ≈ 14% of a uniform corpus), then exact
    cosine rank within the probed set.

    The query's vector and signature are single-row driver-side lookups
    (metadata, not data). This variant computes signatures on the fly, so
    the probe is a row-level filter; for the physical layout where the
    same ball probe becomes partition PRUNING, see
    ``write_sig_partitioned`` + ``cosine_topk_lsh_partitioned`` below
    (pinned by tests/test_plans.py::test_ann_sig_layout_partition_pruning)."""
    if planes is None:
        planes = random_hyperplanes()
    sigs = rh_signature(df, planes, vec_col=vec_col)
    qrows = (
        sigs.filter(F.col(id_col) == query_id).select(vec_col, "sig").take(1)
    )
    if not qrows:
        raise ValueError(f"query_id {query_id!r} not found in {id_col}")
    qvec, qsig = list(qrows[0][0]), qrows[0][1]
    probed = sigs.filter(
        F.expr(f"bit_count(sig ^ {qsig})") <= max_hamming
    ).drop("sig")
    return cosine_topk(probed, qvec, k, id_col, vec_col)


# ---------------------------------------------------------------------------
# IVF (inverted-file) coarse quantization — the second ANN scale path
# ---------------------------------------------------------------------------

IVF_SEED = 23


def ivf_centroids(
    n_lists: int = 16, dim: int = 64, seed: int = IVF_SEED
) -> list[list[float]]:
    """Fixed seeded Gaussian coarse centroids, rounded to 4 decimals so
    the identical literals embed in the DuckDB oracle. A production IVF
    trains centroids with k-means on a sample; the *index structure* —
    assignment, inverted lists, nprobe probing — is identical, and fixed
    centroids keep the operator fully deterministic and oracle-checkable
    (the same trade the LSH planes make above)."""
    rnd = random.Random(seed)
    return [
        [round(rnd.gauss(0.0, 1.0), 4) for _ in range(dim)]
        for _ in range(n_lists)
    ]


def train_ivf_centroids(
    df: DataFrame,
    n_lists: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_sample: int = 4096,
    iters: int = 10,
    info: dict | None = None,
) -> list[list[float]]:
    """Spherical k-means coarse centroids trained on a deterministic
    sample — the production answer to ``ivf_centroids``'s honest
    weakness (fixed random centroids ignore the data distribution, so
    inverted-list sizes are unbounded-skew on real corpora; trained
    centroids sit inside the data's clusters and split its mass).

    Scale contract: the ONLY distributed work is one TakeOrdered pass
    (rows ranked by ``xxhash64(id)`` — a deterministic, content-defined
    sample independent of partitioning; top-``max_sample`` is bounded
    driver memory regardless of corpus size). Lloyd's iterations then
    run driver-side in numpy on the ≤``max_sample``×dim block —
    O(sample · n_lists · dim) per iter, metadata-scale. Init is the
    first ``n_lists`` sample rows in hash order (deterministic);
    assignment is cosine (matching ``ivf_assign``); empty lists keep
    their previous centroid. Centroids are rounded to 4 decimals so
    they embed as oracle literals exactly like the fixed ones.

    Pass ``info={}`` to receive ``info['sample_list_counts']`` — the
    per-list sample occupancy, the skew signal to check before writing
    a 10^10-row layout partitioned by ``list_id``."""
    import numpy as np

    rows = (
        df.select(
            F.col(vec_col).alias("v"),
            F.xxhash64(F.col(id_col).cast("string")).alias("__h"),
        )
        .orderBy("__h")
        .limit(max_sample)
        .collect()
    )
    x = np.array([[float(c) for c in r["v"]] for r in rows], dtype=np.float64)
    if len(x) < n_lists:
        raise ValueError(f"sample ({len(x)}) smaller than n_lists ({n_lists})")
    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    cents = xn[:n_lists].copy()
    for _ in range(iters):
        cn = cents / np.linalg.norm(cents, axis=1, keepdims=True)
        assign = np.argmax(xn @ cn.T, axis=1)
        for j in range(n_lists):
            members = xn[assign == j]
            if len(members):
                cents[j] = members.mean(axis=0)
    cn = cents / np.linalg.norm(cents, axis=1, keepdims=True)
    out = [[round(float(c), 4) for c in row] for row in cn]
    if info is not None:
        # occupancy of the centroids actually RETURNED (renormalized +
        # rounded), not the pre-update iterate — the report is the skew
        # signal for a list_id-partitioned layout, so it must describe
        # the assignment a consumer of the return value would get
        final = np.array(out, dtype=np.float64)
        final /= np.linalg.norm(final, axis=1, keepdims=True)
        info["sample_list_counts"] = np.bincount(
            np.argmax(xn @ final.T, axis=1), minlength=n_lists
        ).tolist()
    return out


def ivf_assign(
    df: DataFrame,
    centroids: list[list[float]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "list_id",
) -> DataFrame:
    """Coarse quantization: ``out_col`` = argmax_k round4(cos(v, c_k)),
    ties → smallest k. Pure Column arithmetic (one fused projection, no
    UDF, no shuffle): the scores land in an array and
    ``array_position(scores, array_max(scores))`` picks the first
    maximum — round4 before comparison makes the argmax cross-engine
    exact. At 10^10 vectors this is the partitioning/clustering key of
    the physical layout (write partitioned by ``list_id`` exactly like
    ``write_sig_partitioned`` does for signatures)."""
    if centroids is None:
        centroids = ivf_centroids()
    # Adaptive spread (operators/spread.py): the 16-centroid fold chain
    # is the heaviest per-row projection in the ANN family and otherwise
    # runs at a 1-split scan's width; no-op for many-split inputs.
    df = spread_input(df)
    # centroid norms are CONSTANTS — fold them driver-side
    # (bit-identical, see _py_norm); the 16 identical _norm(vec) folds
    # are shared by subexpression elimination, so each row pays ONE
    # vector-norm fold + 16 dots instead of 33 folds. Built as SQL text
    # (one F.expr parse): py4j composition of the 16×64-literal tree
    # cost ~1.3 s of pure driver time per call (the _subspace_dists_sql
    # lesson), shared by every IVF entry.
    norm = _norm_sql(vec_col)
    scores = []
    for c in centroids:
        clit = "array(" + ", ".join(_sql_d(x) for x in c) + ")"
        dot = _dot_sql(f"`{vec_col}`", clit)
        scores.append(
            f"(floor((({dot}) / (({norm}) * {_sql_d(_py_norm(c))})) "
            "* 10000 + 0.5D) / 10000)"
        )
    # two-step: materialize the score array in its OWN projection, then
    # argmax from the column. Referencing the array expression directly
    # in both array_position and array_max would duplicate the 16-fold
    # tree — and interpreted higher-order functions get no codegen
    # subexpression elimination (CLAUDE.md), so it would EXECUTE twice
    # per row. CollapseProject keeps the split (non-cheap expression
    # referenced more than once).
    arr = "array(" + ", ".join(scores) + ")"
    return (
        df.withColumn("__ivf_scores", F.expr(arr))
        .withColumn(
            out_col,
            F.expr(
                "CAST(array_position(__ivf_scores, "
                "array_max(__ivf_scores)) - 1 AS INT)"
            ),
        )
        .drop("__ivf_scores")
    )


def _py_round4(x: float) -> float:
    """Scalar twin of functions/numeric.py::round4 (identical IEEE ops)."""
    import math

    return math.floor(x * 10000 + 0.5) / 10000


def _select_probe_lists(
    qvec: list[float], centroids: list[list[float]], nprobe: int
) -> list[int]:
    """The nprobe inverted lists closest to the query by round4(cosine),
    ties to the smallest centroid id — driver-side arithmetic on
    n_lists×dim floats (metadata, not data). ONE definition shared by
    the row-filter and partition-pruned IVF probes: the partitioned
    catalog query reuses the row-filter query's oracle on the premise
    that both select identical lists."""
    qnorm = sum(x * x for x in qvec) ** 0.5
    cscores = []
    for kidx, c in enumerate(centroids):
        dot = sum(a * b for a, b in zip(qvec, c))
        cnorm = sum(x * x for x in c) ** 0.5
        cscores.append((_py_round4(dot / (qnorm * cnorm)), kidx))
    return [
        kidx
        for _, kidx in sorted(cscores, key=lambda t: (-t[0], t[1]))[:nprobe]
    ]


def ivf_topk(
    df: DataFrame,
    query_id,
    k: int = 10,
    nprobe: int = 4,
    centroids: list[list[float]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: probe the ``nprobe`` inverted lists whose
    centroids are closest to the query (driver-side arithmetic on
    n_lists×dim floats — metadata, not data), then exact cosine rank
    within the probed lists. With 16 lists and nprobe=4 the scan covers
    ~25% of a balanced corpus; at 10^10 vectors lay the table out
    partitioned by ``list_id`` so the probe is partition pruning, not a
    row filter. Returns (id, cos) ordered by (cos desc, id)."""
    if centroids is None:
        centroids = ivf_centroids()
    qrows = df.filter(F.col(id_col) == query_id).select(vec_col).take(1)
    if not qrows:
        raise ValueError(f"query_id {query_id!r} not found in {id_col}")
    qvec = [float(x) for x in qrows[0][0]]
    probes = _select_probe_lists(qvec, centroids, nprobe)
    assigned = ivf_assign(df, centroids, id_col, vec_col)
    probed = assigned.filter(F.col("list_id").isin(probes)).drop("list_id")
    return cosine_topk(probed, qvec, k, id_col, vec_col)


def write_ivf_partitioned(
    df: DataFrame,
    path: str,
    centroids: list[list[float]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the embeddings table physically partitioned by
    ``list_id`` (IVF coarse assignment) — the inverted-list layout at
    rest. ``ivf_topk_partitioned``'s nprobe probe then opens only the
    probed lists' partitions (nprobe/n_lists of the table) instead of
    evaluating an assignment filter over every row: the 10^10-vector
    shape, exactly parallel to ``write_sig_partitioned`` for LSH.
    Train centroids first (``train_ivf_centroids``) when list balance
    matters; the layout machinery is centroid-agnostic."""
    if centroids is None:
        centroids = ivf_centroids()
    assigned = ivf_assign(df, centroids, id_col, vec_col)
    assigned.write.mode("overwrite").partitionBy("list_id").parquet(path)


def ivf_topk_partitioned(
    spark,
    path: str,
    query_id,
    k: int = 10,
    nprobe: int = 4,
    centroids: list[list[float]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF top-k over a ``write_ivf_partitioned`` layout: the probe-list
    membership test sits on the PARTITION column (``list_id IN (...)``),
    so the scan prunes whole partitions before the exact cosine rank —
    identical results to ``ivf_topk`` (same centroids, same nprobe),
    different physical plan (PartitionFilters, pinned in
    tests/test_plans.py)."""
    if centroids is None:
        centroids = ivf_centroids()
    table = spark.read.parquet(path)
    qrows = table.filter(F.col(id_col) == query_id).select(vec_col).take(1)
    if not qrows:
        raise ValueError(f"query_id {query_id!r} not found in {id_col}")
    qvec = [float(x) for x in qrows[0][0]]
    probes = _select_probe_lists(qvec, centroids, nprobe)
    probed = table.filter(F.col("list_id").isin(probes)).drop("list_id")
    return cosine_topk(probed, qvec, k, id_col, vec_col)


# ---------------------------------------------------------------------------
# signature-prefix physical layout: the probe as PARTITION PRUNING
# ---------------------------------------------------------------------------


def write_sig_partitioned(
    df: DataFrame,
    path: str,
    planes: list[list[float]] | None = None,
    vec_col: str = "embedding",
    prefix_bits: int | None = None,
) -> None:
    """Materialize the embeddings table physically partitioned by
    ``sig_prefix`` (the low ``prefix_bits`` bits of the packed
    random-hyperplane signature; default: all of it). This is the layout
    that turns ``cosine_topk_lsh_partitioned``'s Hamming-ball probe into
    *partition pruning* — at 10^10 vectors the probe opens ~14% of the
    table's partitions (r=2, 8 planes) instead of scanning every row to
    evaluate a signature filter. The full ``sig`` stays as a data column
    for the residual filter when ``prefix_bits`` < #planes."""
    if planes is None:
        planes = random_hyperplanes()
    if prefix_bits is None:
        prefix_bits = len(planes)
    sigs = rh_signature(df, planes, vec_col=vec_col).withColumn(
        "sig_prefix",
        F.col("sig").bitwiseAND(F.lit((1 << prefix_bits) - 1)).cast("int"),
    )
    sigs.write.mode("overwrite").partitionBy("sig_prefix").parquet(path)


def cosine_topk_lsh_partitioned(
    spark,
    path: str,
    query_id,
    k: int = 10,
    max_hamming: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    prefix_bits: int | None = None,
    n_planes: int = 8,
):
    """Multi-probe LSH top-k over a ``write_sig_partitioned`` layout: the
    Hamming-ball membership test is expressed on the PARTITION column
    (``bit_count(sig_prefix ^ q_prefix) <= r``), so the scan prunes whole
    partitions (pinned by tests/test_plans.py — ``PartitionFilters`` in
    the executed plan, ball-sized file set) before the residual row-level
    signature filter and the exact cosine rank."""
    if prefix_bits is None:
        prefix_bits = n_planes
    table = spark.read.parquet(path)
    qrows = table.filter(F.col(id_col) == query_id).select(vec_col, "sig").take(1)
    if not qrows:
        raise ValueError(f"query_id {query_id!r} not found in {id_col}")
    qvec, qsig = list(qrows[0][0]), int(qrows[0][1])
    qpref = qsig & ((1 << prefix_bits) - 1)
    probed = table.filter(
        F.expr(f"bit_count(sig_prefix ^ {qpref})") <= max_hamming
    )
    if prefix_bits < n_planes:
        # prefix pruning is necessary-but-not-sufficient: apply the full
        # signature test on the surviving rows
        probed = probed.filter(
            F.expr(f"bit_count(sig ^ {qsig})") <= max_hamming
        )
    return cosine_topk(
        probed.drop("sig", "sig_prefix"), qvec, k, id_col, vec_col
    )


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.35,
    centroids: list[list[float]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_cap: int = 100_000,
    cache: list | None = None,
    broadcast_max_bytes: int = BROADCAST_VECTOR_BYTES,
    kernel_min_vectors: int = 10_000,
) -> DataFrame:
    """Cluster-then-prune semantic deduplication (the SemDeDup shape,
    Abbas et al. 2023, arXiv:2303.09540): coarse-quantize every vector
    to its nearest centroid (``ivf_assign`` — the blocking key), score
    cosine only WITHIN a cluster, and drop any vector that has an
    earlier (smaller-id) cluster-mate with cosine ≥ ``threshold``.
    Returns every input row as (id, list_id, kept).

    The "exists an earlier similar member" rule is deliberately
    non-iterative: one equi-join on the cluster id + one distinct + one
    left join decide every row — no connected-components fixpoint (the
    full CC variant is ``operators/graph.py`` over ``neardup_pairs``).
    Determinism: round4 cosine and id-order tie-breaks, so the kept set
    is identical across engines and cluster sizes. Scale: the pair join
    is blocked by ``list_id`` (clusters ≈ n/k vectors); a degenerate
    cluster (all boilerplate embeddings in one list) is exactly the
    hot-cell shape, so the shared ``_cap_cells`` guard drops over-cap
    clusters from PAIRING (their members stay in the output, kept) —
    with trained centroids (``train_ivf_centroids``) list skew is
    bounded in the first place.

    The assigned frame is persisted internally: it feeds the cap's
    count, both pair-join sides and the final output join, so without
    the cache the k-centroid assignment folds re-run ~4× — measured 35%
    end-to-end at sf0.1 (3.3 → 2.2 s, interleaved best-of-3). Pass
    ``cache`` to own the unpersist (asof_join convention)."""
    from .dedup import _cap_cells

    assigned = ivf_assign(
        df, centroids, id_col=id_col, vec_col=vec_col
    ).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"), "list_id"
    ).persist()
    if cache is not None:
        cache.append(assigned)
    # In-cluster verify (r6, same strategy as neardup_pairs): in the
    # bounded regime, the pair join carries ONLY (id, list_id) and the
    # round4 cosine comes from the Arrow-vectorized broadcast-matrix
    # kernel (_pair_cos_kernel — bit-identical to the JVM fold; norms
    # via _np_norms' identical accumulation). In-cluster candidates are
    # ~n²/(2k), so below ``kernel_min_vectors`` the collect+broadcast+
    # Arrow setup outweighs the saved folds (measured at sf0.1/2000
    # vecs: 1.12 → 1.60 s with the kernel; at sf1.0/20000 vecs the
    # kernel wins 6.7 → 4.0 s) — small inputs keep the JVM fold, as
    # does anything past ``broadcast_max_bytes`` of float64 matrix (the
    # shape below: norms as COLUMNS before the join — a norm inside the
    # post-join filter would re-fold per PAIR, measured 2.5×).
    n_vecs, dim = _vector_shape(assigned)  # fills the assignment cache
    fits = n_vecs * dim * 8 <= broadcast_max_bytes
    if kernel_min_vectors < n_vecs and fits:
        ids, mat = _collect_matrix(assigned)
        pair_cos = _pair_cos_kernel(
            df.sparkSession, ids, mat, _np_norms(mat)
        )
        width = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
        slim = _cap_cells(
            assigned.select("id", "list_id"), cell_cap, keys=("list_id",)
        )
        cand = (
            slim.alias("l")
            .join(
                slim.alias("r"),
                on=[
                    F.col("l.list_id") == F.col("r.list_id"),
                    F.col("l.id") < F.col("r.id"),
                ],
            )
            .select(F.col("l.id").alias("a"), F.col("r.id").alias("b"))
        )
        drops = (
            cand.repartition(width)
            .select("b", pair_cos("a", "b").alias("cos"))
            .filter(F.col("cos") >= threshold)
            .select(F.col("b").alias("id"))
            .distinct()
            .withColumn("__dropped", F.lit(True))
        )
    else:
        in_cells = _cap_cells(
            assigned, cell_cap, keys=("list_id",)
        ).withColumn("nv", _norm(F.col("v")))
        left = in_cells.alias("l")
        right = in_cells.alias("r")
        drops = (
            left.join(
                right,
                on=[
                    F.col("l.list_id") == F.col("r.list_id"),
                    F.col("l.id") < F.col("r.id"),
                ],
            )
            .filter(
                round4(
                    _dot(F.col("l.v"), F.col("r.v"))
                    / (F.col("l.nv") * F.col("r.nv"))
                )
                >= threshold
            )
            .select(F.col("r.id").alias("id"))
            .distinct()
            .withColumn("__dropped", F.lit(True))
        )
    return (
        assigned.join(drops, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "list_id",
            F.coalesce(~F.col("__dropped"), F.lit(True)).alias("kept"),
        )
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): the ANN suite's MEMORY story. IVF/LSH answer
# "which rows do I look at"; PQ answers "how do 10^10 vectors fit" — each
# 64-dim float vector compresses to m=8 4-bit codes (64 B → 4 B, 64×),
# and query scanning runs over the compressed codes via an m×k lookup
# table (asymmetric distance), touching the raw vectors only to rerank a
# shortlist. Codebooks are fixed seeded Gaussians rounded to 4 decimals
# (the ivf_centroids trade: deterministic + embeddable as oracle
# literals; production trains them with the train_ivf_centroids
# machinery per subspace).
# ---------------------------------------------------------------------------

PQ_SEED = 41


def pq_codebooks(
    m: int = 8, k: int = 16, subdim: int = 8, seed: int = PQ_SEED
) -> list[list[list[float]]]:
    """``m`` per-subspace codebooks of ``k`` centroids × ``subdim`` dims,
    round4 literals (identical in the Spark plan and the DuckDB oracle)."""
    rnd = random.Random(seed)
    return [
        [
            [round(rnd.gauss(0.0, 1.0), 4) for _ in range(subdim)]
            for _ in range(k)
        ]
        for _ in range(m)
    ]


def _sql_d(x: float) -> str:
    """A Spark-SQL DOUBLE literal (the D suffix: bare ``1.2`` parses as
    DECIMAL in Spark SQL exactly like in DuckDB)."""
    return repr(float(x)) + "D"


def _subspace_dists_sql(vec_name: str, j: int, cb: list[list[float]]) -> str:
    """SQL fragment: array of round4(Σ_i (v[j·subdim+i] − c_i)²) for
    every centroid c of subspace j's codebook — one 8-element zip_with
    fold PER CENTROID (k small folds). Two measured negative results at
    sf0.1 (keep them dead): unrolling into per-element column chains
    blows up Catalyst (the CLAUDE.md 128-node rule), and folding all k
    distances in ONE pass with a k-field struct accumulator is ~3×
    SLOWER — the interpreted fold rebuilds the 16-field struct on every
    step. This builder emits a SQL STRING rather than composing Column
    objects because the py4j construction of the m×k fold tree was
    itself the dominant cost of the PQ entries (measured: ~8.6 s of
    DataFrame construction vs 2.4 s of execution on 2000 rows —
    data-independent, flat from local[2] to local[32]); one
    ``F.expr`` parse builds the identical expression JVM-side in
    milliseconds. The fold arithmetic is unchanged: CAST to double,
    literal-array zip, left-to-right 0.0-seeded sum, round4."""
    subdim = len(cb[0])
    sub = f"slice(`{vec_name}`, {j * subdim + 1}, {subdim})"
    dists = []
    for cent in cb:
        clit = "array(" + ", ".join(_sql_d(x) for x in cent) + ")"
        fold = (
            f"aggregate(zip_with({sub}, {clit}, "
            "(x, c) -> (CAST(x AS DOUBLE) - c) * (CAST(x AS DOUBLE) - c)), "
            "0.0D, (acc, x) -> acc + x)"
        )
        dists.append(f"(floor(({fold}) * 10000 + 0.5D) / 10000)")
    return "array(" + ", ".join(dists) + ")"


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Adds ``pq_code`` (array<int>, length m; code_j = argmin_c of the
    round4 subspace L2² distance, ties → smallest c) and ``pq_word``
    (the codes packed little-endian into one BIGINT at 4 bits/code —
    the column a 10^10-row compressed layout actually stores). Pure
    Column arithmetic over one scan: no UDF, no shuffle, and the argmin
    is ``array_position(dists, array_min(dists)) − 1`` so the
    first-minimum tie rule is explicit and engine-portable. Expressions
    are built as SQL text (see ``_subspace_dists_sql`` — py4j Column
    composition of the m×k fold tree cost ~6 s of pure driver time)."""
    if codebooks is None:
        codebooks = pq_codebooks()
    # Adaptive spread (operators/spread.py): m fold trees per row —
    # serial on a 1-split scan; no-op for many-split inputs.
    df = spread_input(df)
    k = len(codebooks[0])
    m = len(codebooks)
    # three-step projection chain so every fold runs ONCE per row:
    # (1) per-subspace distance arrays as __pqd<j> columns (the folds),
    # (2) pq_code argmins reading those columns, (3) pq_word packing
    # read back from pq_code. Inlining instead would evaluate each
    # distance array twice (argmin + position) and each code five times
    # (array + packing) — interpreted HOFs get no codegen CSE.
    dist_cols = {
        f"__pqd{j}": F.expr(_subspace_dists_sql(vec_col, j, cb))
        for j, cb in enumerate(codebooks)
    }
    code_arr = F.expr(
        "array("
        + ", ".join(
            f"CAST(array_position(__pqd{j}, array_min(__pqd{j})) - 1 "
            "AS INT)"
            for j in range(m)
        )
        + ")"
    )
    word = F.expr(
        "CAST(0 AS BIGINT) + "
        + " + ".join(
            f"(CAST(element_at(pq_code, {j + 1}) AS BIGINT)"
            f" * {int(k) ** j})"
            for j in range(m)
        )
    )
    return (
        df.withColumns(dist_cols)
        .withColumn("pq_code", code_arr)
        .withColumn("pq_word", word)
        .drop(*dist_cols)
    )


def pq_adc_table(
    query_vec: list[float], codebooks: list[list[list[float]]]
) -> list[list[float]]:
    """The asymmetric-distance lookup table: LUT[j][c] =
    round4(Σ_i (q[j·subdim+i] − w_i)²), computed driver-side with the
    exact left-to-right double accumulation of ``_subdist``'s JVM fold
    (the _py_norm discipline) — m×k floats of metadata, baked as
    literals into both engines' scan expressions."""
    lut = []
    subdim = len(codebooks[0][0])
    for j, cb in enumerate(codebooks):
        row = []
        for cent in cb:
            acc = 0.0
            for i, w in enumerate(cent):
                d = float(query_vec[j * subdim + i]) - float(w)
                acc = acc + d * d
            row.append(_py_round4(acc))
        lut.append(row)
    return lut


def _adc_expr(lut: list[list[float]]) -> Column:
    """The asymmetric-distance Column over a ``pq_code`` column: m
    lookup-table reads (all literals) summed left-to-right from a 0.0
    seed — one F.expr parse, shared by the full-scan and IVF-pruned
    ADC paths so their distance values are bit-identical."""
    return F.expr(
        "0.0D + "
        + " + ".join(
            "element_at(array("
            + ", ".join(_sql_d(v) for v in row)
            + f"), element_at(pq_code, {j + 1}) + 1)"
            for j, row in enumerate(lut)
        )
    )


def pq_topk(
    df: DataFrame,
    query_vec: list[float],
    codebooks: list[list[list[float]]] | None = None,
    k: int = 10,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ search, the full production shape: (1) encode + ADC scan —
    per row, the approximate distance is m lookup-table reads summed
    left-to-right (all literals; at 10^10 rows this pass reads ONLY the
    4-byte codes), (2) deterministic TakeOrdered ``shortlist`` by
    (adist asc, id), (3) exact round4-cosine rerank of the shortlist
    rows ONLY (the raw vectors for ≤``shortlist`` ids — a broadcast
    semi-join, never a full-vector scan) → top ``k`` by (cos desc, id).
    Returns (id, adist, cos)."""
    if codebooks is None:
        codebooks = pq_codebooks()
    lut = pq_adc_table(query_vec, codebooks)
    enc = pq_encode(df, codebooks, id_col=id_col, vec_col=vec_col)
    adist = _adc_expr(lut)
    # round4 the summed ADC distance: the 8 addends are round4 literals
    # on both engines, but the SUM order is fold-vs-aggregate — absorb
    # the ulp before it can flip an ORDER BY comparison at the
    # shortlist boundary
    short = (
        enc.select(F.col(id_col), round4(adist).alias("adist"))
        .orderBy(F.col("adist").asc(), F.col(id_col).asc())
        .limit(shortlist)
    )
    rerank = df.join(F.broadcast(short), id_col)
    scored = cosine_scores(rerank, list(query_vec), vec_col=vec_col)
    return (
        scored.select(id_col, "adist", "cos")
        .orderBy(F.col("cos").desc(), F.col(id_col).asc())
        .limit(k)
    )


def write_ivfpq_partitioned(
    df: DataFrame,
    path: str,
    centroids: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """The IVF-PQ physical layout — the canonical 10^10-vector serving
    shape (FAISS ``IVFx,PQy`` restated as a parquet layout): every
    vector is coarse-assigned to an inverted list (``ivf_assign``) and
    stored in that list's PARTITION as its 4-byte PQ code word only
    (``pq_encode``; the raw vectors stay in the source table, touched
    only by the rerank). A probe therefore (1) prunes to nprobe
    partitions and (2) scans 4 B/row inside them — the two multipliers
    that make 10^10 vectors searchable: ~nprobe/n_lists of the rows,
    at 1/16th the bytes each."""
    assigned = ivf_assign(df, centroids, id_col=id_col, vec_col=vec_col)
    enc = pq_encode(assigned, codebooks, id_col=id_col, vec_col=vec_col)
    (
        enc.select(id_col, "pq_code", "pq_word", "list_id")
        .write.mode("overwrite")
        .partitionBy("list_id")
        .parquet(path)
    )


def ivfpq_topk(
    spark,
    path: str,
    raw_df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    shortlist: int = 50,
    centroids: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ search over a ``write_ivfpq_partitioned`` layout: the
    nprobe closest inverted lists (driver-side centroid arithmetic —
    metadata, not data) become a PARTITION-column predicate; inside the
    probed partitions the ADC scan reads ONLY the codes (``_adc_expr``
    — identical distances to the full-scan ``pq_topk``); deterministic
    TakeOrdered ``shortlist`` by (adist, id); exact round4-cosine
    rerank of the shortlist rows via a broadcast join against the raw
    table. Returns (id, adist, cos) for the top ``k`` by (cos desc,
    id)."""
    if centroids is None:
        centroids = ivf_centroids()
    if codebooks is None:
        codebooks = pq_codebooks()
    probe = _select_probe_lists(query_vec, centroids, nprobe)
    lut = pq_adc_table(query_vec, codebooks)
    codes = spark.read.parquet(path).filter(F.col("list_id").isin(probe))
    short = (
        codes.select(F.col(id_col), round4(_adc_expr(lut)).alias("adist"))
        .orderBy(F.col("adist").asc(), F.col(id_col).asc())
        .limit(shortlist)
    )
    rerank = raw_df.join(F.broadcast(short), id_col)
    scored = cosine_scores(rerank, list(query_vec), vec_col=vec_col)
    return (
        scored.select(id_col, "adist", "cos")
        .orderBy(F.col("cos").desc(), F.col(id_col).asc())
        .limit(k)
    )


def kmeans_int(
    df: DataFrame,
    k: int = 8,
    rounds: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 10_000,
    cache: list | None = None,
) -> DataFrame:
    """Distributed Lloyd's k-means over an embedding column in EXACT
    fixed-point arithmetic → ``(id_col, cluster)`` after ``rounds``
    assign/update iterations plus a final assignment. The corpus-scale
    clustering pass a training pipeline runs for topic/domain mixing —
    the full-data counterpart of ``train_ivf_centroids``'s bounded
    driver-side sample (this one never samples: every vector votes in
    every update).

    Exactness contract (what makes a DuckDB oracle possible where
    textbook float k-means is not): vectors quantize once to integers
    (``floor(x·scale + 0.5)`` — round-half-up, bit-identical in both
    engines via IEEE double ops), squared-L2 distances are BIGINT sums
    (max |q| ≈ 2·scale, 64 dims → ≤ ~1e11, far under int64), ties break
    to the smallest centroid index, and the centroid update rounds
    half-up via an exactly-divisible numerator —
    ``(2S + c − posmod(2S + c, 2c)) / (2c)`` — so floor-division
    (Python ``//``) and truncating division (DuckDB ``//``) agree by
    construction. Empty clusters keep their previous centroid. Init =
    the quantized vectors of the ``k`` smallest ids.

    Scale shape (10^10 vectors): per round ONE job — assignment is a
    generated SQL expression over broadcast centroid literals (the
    CLAUDE.md py4j lesson: one JVM parse, no 64-deep Column trees), the
    update is posexplode → ``groupBy(cluster, dim)`` with map-side
    partial aggregation (k·64 rows per partition reach the shuffle,
    never the data), and the driver collects exactly k·64 summary rows
    (bounded by constants, not the corpus). The quantized frame is
    persisted once and scanned per round; pass ``cache`` to own the
    unpersist (asof_join convention). No per-key window, no driver-side
    data loop, nothing crosses Arrow.
    """
    spark = df.sparkSession
    # Adaptive spread (operators/spread.py): the persisted quantized
    # frame inherits this width, so every round's k-fold assignment scan
    # runs parallel instead of at a 1-split scan's width.
    df = spread_input(df)
    q = df.select(
        F.col(id_col),
        F.transform(
            F.col(vec_col),
            lambda x: F.floor(
                x.cast("double") * F.lit(float(scale)) + F.lit(0.5)
            ).cast("long"),
        ).alias("__q"),
    ).persist()
    if cache is not None:
        cache.append(q)

    init_rows = q.orderBy(F.col(id_col)).limit(k).collect()
    if len(init_rows) < k:
        raise ValueError(f"k={k} exceeds input rows ({len(init_rows)})")
    cents: list[list[int]] = [list(r["__q"]) for r in init_rows]
    dims = len(cents[0])

    def _assigned() -> DataFrame:
        # distances land in ONE named array column, so the argmin's two
        # references (position + min) share a single per-row evaluation
        # of the k folds instead of rebuilding them (the CLAUDE.md
        # fold-redundancy lesson)
        dists = ", ".join(
            "aggregate(zip_with(__q, array("
            + ", ".join(f"{v}L" for v in c)
            + "), (x, y) -> (x - y) * (x - y)), 0L, (a, e) -> a + e)"
            for c in cents
        )
        return q.withColumn("__ds", F.expr(f"array({dists})")).withColumn(
            "__c",
            F.expr("array_position(__ds, array_min(__ds)) - 1").cast("long"),
        )

    for _ in range(rounds):
        sums = (
            _assigned()
            .select("__c", F.posexplode("__q"))
            .groupBy("__c", "pos")
            .agg(F.sum("col").alias("__s"), F.count("*").alias("__n"))
            .collect()
        )  # bounded: exactly k·dims rows
        by_cluster: dict[int, dict[int, tuple[int, int]]] = {}
        for r in sums:
            by_cluster.setdefault(int(r["__c"]), {})[int(r["pos"])] = (
                int(r["__s"]),
                int(r["__n"]),
            )
        new_cents = []
        for j in range(k):
            got = by_cluster.get(j)
            if not got:
                new_cents.append(cents[j])  # empty cluster: keep
                continue
            row = []
            for d in range(dims):
                s, n = got[d]
                num = 2 * s + n
                num -= num % (2 * n)  # exactly divisible now
                row.append(num // (2 * n))
            new_cents.append(row)
        cents = new_cents

    return _assigned().select(id_col, F.col("__c").alias("cluster"))
