"""Unit tests for ordering, politeness, dedup, similarity, multimodal,
and the streaming queue analog."""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import Window
from pyspark.sql import functions as F

from basic_common_crawl_pipeline_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_dedup,
    simhash,
)
from basic_common_crawl_pipeline_spark.operators.multimodal import (
    extract_media_features,
    synth_media,
)
from basic_common_crawl_pipeline_spark.operators.ordering import (
    global_seq_assign,
    with_global_seq,
)
from basic_common_crawl_pipeline_spark.operators.politeness import (
    select_per_host_topk,
)
from basic_common_crawl_pipeline_spark.operators.similarity import cosine_topk


def _window_rank(df):
    return sorted(
        (r.k, r.v, r.seq)
        for r in df.withColumn(
            "seq", F.row_number().over(Window.orderBy("k", "v"))
        ).collect()
    )


# 4 range partitions that AQE does not coalesce, for a few thousand rows
_SEVERAL_RANGE_PARTITIONS = {
    "spark.sql.shuffle.partitions": "4",
    "spark.sql.adaptive.coalescePartitions.enabled": "false",
}


@contextmanager
def _seq_session(spark, conf):
    """Run the body under the session ``conf`` and retire the sorted
    caches collected in the yielded list; the old settings come back."""
    old = {k: spark.conf.get(k) for k in conf}
    caches: list = []
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield caches
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
        for df in caches:
            df.unpersist()


def test_global_seq_equals_window_rank(spark):
    """with_global_seq equals the window rank on AQE's coalesced layout,
    over several range partitions (coalescing off), from a start other
    than 1, and on an empty input. The sorted cache it hands back is the
    caller's to release."""
    df = spark.range(0, 4000).select(
        (F.col("id") % 11).alias("k"), (F.col("id") * 7919 % 4000).alias("v")
    )
    want = _window_rank(df)
    with _seq_session(spark, {}) as cache:
        got = with_global_seq(df, ["k", "v"], cache=cache).collect()
    assert sorted((r.k, r.v, r.seq) for r in got) == want
    with _seq_session(spark, _SEVERAL_RANGE_PARTITIONS) as cache:
        rows = with_global_seq(df, ["k", "v"], start=100, cache=cache).collect()
        parts = cache[0].select("__pid").distinct().count()
        empty = with_global_seq(df.filter(F.col("k") < 0), ["k", "v"], cache=cache)
        assert empty.collect() == []
        assert len(cache) == 2
    assert parts > 1 and len(rows) == 4000
    assert sorted((r.k, r.v, r.seq - 99) for r in rows) == want


def test_with_global_seq_numbers_several_range_partitions(spark):
    """Five calls over 4000 rows in 4 range partitions (coalescing off)
    each number like the window rank. Counting and numbering two
    separate sorts raised here: each sort sampled its own range bounds,
    and the numbering guard saw rows move between partitions."""
    df = spark.range(0, 4000).select(
        (F.col("id") % 11).alias("k"), (F.col("id") * 7919 % 4000).alias("v")
    )
    want = _window_rank(df)
    for _ in range(5):
        with _seq_session(spark, _SEVERAL_RANGE_PARTITIONS) as cache:
            got = with_global_seq(df, ["k", "v"], cache=cache).collect()
        assert sorted((r.k, r.v, r.seq) for r in got) == want


def test_global_seq_assign_skips_a_partition_with_zero_rows(spark):
    """A sorted layout whose middle partition holds no rows: the counts
    omit it, and the numbering runs on across it without a gap."""
    # four ascending range splits of 25 ids; the third is filtered empty
    parted = (
        spark.range(0, 100, numPartitions=4)
        .filter((F.col("id") < 50) | (F.col("id") >= 75))
        .withColumn("__pid", F.spark_partition_id())
        .persist()
    )
    try:
        counts = {
            r["__pid"]: r["count"]
            for r in parted.groupBy("__pid").count().collect()
        }
        assert counts == {0: 25, 1: 25, 3: 25}
        got = global_seq_assign(parted, counts, start=1).collect()
    finally:
        parted.unpersist()
    ids = sorted(r.id for r in got)
    assert sorted((r.id, r.seq) for r in got) == [
        (i, n + 1) for n, i in enumerate(ids)
    ]


def test_politeness_topk_equals_window_topk(spark):
    df = spark.range(0, 500).select(
        F.concat(F.lit("h"), (F.col("id") % 5).cast("string")).alias("host"),
        F.col("id").cast("string").alias("canon_url"),
        (F.col("id") % 13).cast("int").alias("priority"),
        F.concat(F.lit("s"), F.col("id").cast("string")).alias("surt"),
        F.when(F.col("id") % 5 == 0, 3).otherwise(7).alias("budget"),
    )
    got = select_per_host_topk(df, salt_partitions=4).select(
        "host", "canon_url"
    ).collect()
    w = Window.partitionBy("host").orderBy("priority", "surt", "canon_url")
    want = (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= F.col("budget"))
        .select("host", "canon_url")
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_exact_dedup_groups(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a  b   c"), (3, "x y"), (4, "a b c ")],
        ["doc_id", "text"],
    )
    rows = exact_dedup(df).collect()
    groups = {r.keep_id: r.dup_count for r in rows}
    assert groups == {1: 3, 3: 1}  # whitespace-normalized equality


def test_minhash_lsh_finds_near_duplicates(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    far = "completely different words about spark shuffles and parquet files"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], ["doc_id", "text"]
    )
    pairs = minhash_lsh_dedup(df, threshold=0.5).collect()
    assert [(p.a, p.b) for p in pairs] == [(1, 2)]
    assert pairs[0].jaccard > 0.5


def test_hot_band_cell_cap_bounds_candidate_pairs(spark):
    """Boilerplate-heavy corpus (the 100-TB web reality): 120 of 200 docs
    are byte-identical, so every band/chunk cell they share holds 120
    members → an uncapped band self-join materializes all C(120,2)=7140
    boilerplate pairs per band. With the cell cap engaged those hot cells
    are dropped BEFORE the join: no boilerplate pair survives, distinct
    docs are untouched, and a cap far above the corpus reproduces the
    uncapped result exactly (the gate-scale oracle-equality claim)."""
    from basic_common_crawl_pipeline_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        shingle_table,
        simhash_pairs,
    )

    boiler = "cookie notice accept all terms privacy policy copyright footer"
    rows = [(i, boiler) for i in range(120)] + [
        (200 + i, f"unique document number {i} with words w{i} x{i} y{i} z{i}")
        for i in range(80)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    hot_ids = set(range(120))

    sigs = minhash_signatures(shingle_table(df), k=8)
    uncapped = lsh_candidate_pairs(sigs, cell_cap=None).collect()
    capped = lsh_candidate_pairs(sigs, cell_cap=50).collect()
    assert sum(1 for p in uncapped if p.a in hot_ids and p.b in hot_ids) == 7140
    assert all(not (p.a in hot_ids and p.b in hot_ids) for p in capped)
    # non-hot pairs survive the cap unchanged
    cold = lambda ps: sorted(  # noqa: E731
        (p.a, p.b) for p in ps if p.a not in hot_ids or p.b not in hot_ids
    )
    assert cold(capped) == cold(uncapped)
    big_cap = sorted((p.a, p.b) for p in lsh_candidate_pairs(sigs, cell_cap=10_000).collect())
    assert big_cap == sorted((p.a, p.b) for p in uncapped)

    sp_uncapped = simhash_pairs(df, cell_cap=None).collect()
    sp_capped = simhash_pairs(df, cell_cap=50).collect()
    assert sum(1 for p in sp_uncapped if p.a in hot_ids and p.b in hot_ids) == 7140
    assert all(not (p.a in hot_ids and p.b in hot_ids) for p in sp_capped)
    assert cold(sp_capped) == cold(sp_uncapped)


def test_simhash_close_for_similar_docs(spark):
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta iota"),
            (3, "one two three four five six seven eight"),
        ],
        ["doc_id", "text"],
    )
    rows = {r.id: r.simhash for r in simhash(df, bits=32).collect()}
    ham12 = bin(rows[1] ^ rows[2]).count("1")
    ham13 = bin(rows[1] ^ rows[3]).count("1")
    assert ham12 < ham13


def test_cosine_topk_self_first(spark):
    import math
    import random

    rng = random.Random(5)
    data = [
        (i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(50)
    ]
    df = spark.createDataFrame(data, ["vec_id", "embedding"])
    q = data[7][1]
    top = cosine_topk(df, q, k=3).collect()
    assert top[0].vec_id == 7
    assert math.isclose(top[0].cos, 1.0, abs_tol=1e-3)


def test_multimodal_feature_plumbing(spark):
    media = synth_media(spark, n=30)
    feats = extract_media_features(media).collect()
    assert len(feats) == 30
    by_id = {f.media_id: f for f in feats}
    assert by_id[0].n_bytes > 0
    assert len(by_id[0].feature) == 8
    assert 16 <= by_id[0].width < 256
    # deterministic across recomputation
    feats2 = extract_media_features(media).collect()
    assert sorted(map(tuple, feats)) == sorted(map(tuple, feats2))


def test_streaming_queue_roundtrip(spark, tmp_path):
    from basic_common_crawl_pipeline_spark.streaming.queue_stream import (
        consume_batches,
        publish_batches,
        run_stream_to_memory,
    )

    df = spark.range(0, 250).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    )
    qdir = str(tmp_path / "queue")
    publish_batches(df, qdir, batch_size=100)
    stream = consume_batches(spark, qdir, df.schema, max_files_per_trigger=1)
    out = run_stream_to_memory(
        spark, stream, "q_roundtrip", str(tmp_path / "ckpt")
    )
    rows = out.collect()
    assert len(rows) == 250
    assert sorted((r.id, r.v) for r in rows) == [(i, 2 * i) for i in range(250)]


# ---------------------------------------------------------------------------
# random-hyperplane LSH (operators/similarity.py)
# ---------------------------------------------------------------------------


def _emb(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


def test_lsh_neardup_recall_vs_brute_force(spark):
    """Banded RH-LSH (4 bands x 2 bits) must recover most brute-force
    pairs at the catalog threshold; every returned pair must be a true
    pair (precision 1.0 — the exact-cosine verify guarantees it)."""
    import numpy as np

    from basic_common_crawl_pipeline_spark.operators.similarity import (
        neardup_pairs,
        random_hyperplanes,
    )

    emb = _emb(spark)
    planes = random_hyperplanes(8, 64)
    got = {
        (r["a"], r["b"])
        for r in neardup_pairs(emb, threshold=0.35, planes=planes).collect()
    }
    rows = emb.select("vec_id", "embedding").collect()
    ids = [r["vec_id"] for r in rows]
    V = np.array([list(r["embedding"]) for r in rows], dtype=np.float64)
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    C = Vn @ Vn.T
    want = set()
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            # same round4 the engine applies before thresholding
            if np.floor(C[i, j] * 10000 + 0.5) / 10000 >= 0.35:
                a, b = sorted((ids[i], ids[j]))
                want.add((a, b))
    assert got <= want  # precision 1.0
    recall = len(got) / len(want)
    assert recall >= 0.6, f"LSH recall {recall:.2f} too low ({len(got)}/{len(want)})"


def test_lsh_cell_cap_drops_hot_buckets(spark):
    """cell_cap=0 drops every cell -> no pairs; a generous cap is a
    superset of a tight cap (monotone guard semantics)."""
    from basic_common_crawl_pipeline_spark.operators.similarity import (
        neardup_pairs,
        random_hyperplanes,
    )

    emb = _emb(spark).limit(120)
    planes = random_hyperplanes(8, 64)
    assert (
        neardup_pairs(emb, threshold=0.35, planes=planes, cell_cap=0).count() == 0
    )
    tight = {
        (r["a"], r["b"])
        for r in neardup_pairs(
            emb, threshold=0.35, planes=planes, cell_cap=10
        ).collect()
    }
    loose = {
        (r["a"], r["b"])
        for r in neardup_pairs(
            emb, threshold=0.35, planes=planes, cell_cap=100_000
        ).collect()
    }
    assert tight <= loose


def test_lsh_topk_probes_subset_and_ranks_query_first(spark):
    from basic_common_crawl_pipeline_spark.operators.similarity import (
        cosine_topk_lsh,
        random_hyperplanes,
        rh_signature,
    )

    emb = _emb(spark)
    planes = random_hyperplanes(8, 64)
    top = cosine_topk_lsh(emb, query_id=1, k=10, max_hamming=2, planes=planes).collect()
    assert top[0]["vec_id"] == 1 and top[0]["cos"] == 1.0
    # the probe really is a subset scan: hamming<=2 ball covers fewer
    # vectors than the corpus
    sigs = rh_signature(emb, planes)
    qsig = sigs.filter(F.col("vec_id") == 1).collect()[0]["sig"]
    probed = sigs.filter(F.expr(f"bit_count(sig ^ {qsig})") <= 2).count()
    assert probed < emb.count()


def test_ivf_assign_deterministic_and_complete(spark):
    """Every vector lands in exactly one of the 16 inverted lists, the
    assignment is stable across partitionings, and each vector's list
    really is its argmax-cosine centroid (numpy cross-check with the
    same round4-before-argmax rule)."""
    import numpy as np

    from basic_common_crawl_pipeline_spark.operators.similarity import (
        ivf_assign,
        ivf_centroids,
    )

    emb = _emb(spark)
    cents = ivf_centroids(16, 64)
    got = {
        r["vec_id"]: r["list_id"]
        for r in ivf_assign(emb, cents).select("vec_id", "list_id").collect()
    }
    assert len(got) == emb.count()
    assert set(got.values()) <= set(range(16))
    again = {
        r["vec_id"]: r["list_id"]
        for r in ivf_assign(emb.repartition(7), cents)
        .select("vec_id", "list_id")
        .collect()
    }
    assert got == again
    rows = emb.select("vec_id", "embedding").collect()
    C = np.array(cents, dtype=np.float64)
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
    for r in rows:
        v = np.array(list(r["embedding"]), dtype=np.float64)
        cos = np.floor((Cn @ (v / np.linalg.norm(v))) * 10000 + 0.5) / 10000
        assert got[r["vec_id"]] == int(np.argmax(cos)), r["vec_id"]


def test_ivf_topk_probes_subset_and_recall(spark):
    """nprobe=4/16 scans a strict subset; the query ranks itself first;
    top-10 recall vs brute force stays useful (fixed random centroids
    are a weak quantizer — the structure, not the recall, is the point;
    k-means training would raise it)."""
    from basic_common_crawl_pipeline_spark.operators.similarity import (
        cosine_topk,
        ivf_assign,
        ivf_centroids,
        ivf_topk,
    )

    emb = _emb(spark)
    cents = ivf_centroids(16, 64)
    top = ivf_topk(emb, query_id=1, k=10, nprobe=4, centroids=cents).collect()
    assert top[0]["vec_id"] == 1 and top[0]["cos"] == 1.0
    probed_lists = ivf_assign(emb, cents).groupBy("list_id").count().count()
    assert probed_lists > 4  # the corpus spans more lists than we probe
    qvec = list(
        emb.filter(F.col("vec_id") == 1).collect()[0]["embedding"]
    )
    brute = [r["vec_id"] for r in cosine_topk(emb, qvec, k=10).collect()]
    approx = [r["vec_id"] for r in top]
    overlap = len(set(brute) & set(approx)) / 10
    assert overlap >= 0.3, f"IVF top-10 overlap {overlap}"


def test_ivf_topk_unknown_query_raises(spark):
    import pytest as _pytest

    from basic_common_crawl_pipeline_spark.operators.similarity import ivf_topk

    with _pytest.raises(ValueError, match="not found"):
        ivf_topk(_emb(spark), query_id=10**9)


def test_pagerank_cycle_fixed_point_and_star(spark):
    """Hand-checked fixed-point PageRank: a 3-cycle is a fixed point at
    the full scale (contrib = pr/1, pr' = 150000 + 850000); a star's hub
    accumulates the leaves' mass while the leaves (no in-links) settle
    at the base rank after one round."""
    from basic_common_crawl_pipeline_spark.operators.graph import pagerank_int

    cycle = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    got = {r["node"]: r["pr"] for r in pagerank_int(cycle, iterations=5).collect()}
    assert got == {"a": 1_000_000, "b": 1_000_000, "c": 1_000_000}

    star = spark.createDataFrame(
        [("l1", "hub"), ("l2", "hub"), ("l3", "hub")],
        "src string, dst string",
    )
    got = {r["node"]: r["pr"] for r in pagerank_int(star, iterations=2).collect()}
    # round 1: leaves -> 150000 (no in-links); hub -> 150000 + 85*3e6/100
    # round 2: hub <- 3 leaves at 150000: 150000 + (85*450000)//100
    assert got["l1"] == got["l2"] == got["l3"] == 150_000
    assert got["hub"] == 150_000 + (85 * 3 * 150_000) // 100

    # determinism across partitionings (integer sums are associative)
    again = {
        r["node"]: r["pr"]
        for r in pagerank_int(star.repartition(5), iterations=2).collect()
    }
    assert got == again


def test_label_propagation_components(spark):
    """Min-label propagation: two triangles + an isolated node resolve to
    min-id components; a path graph longer than the round count shows
    the documented K-hop semantics (labels only travel K hops)."""
    from basic_common_crawl_pipeline_spark.operators.graph import (
        label_propagation_min,
    )

    tri = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12)],
        "src long, dst long",
    )
    nodes = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 10, 11, 12, 99)], "doc_id long"
    )
    got = {
        r["node"]: r["label"]
        for r in label_propagation_min(tri, iterations=3, nodes=nodes).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 99: 99}

    path = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 7)], "src long, dst long"
    )  # 1-2-3-4-5-6-7
    two = {
        r["node"]: r["label"]
        for r in label_propagation_min(path, iterations=2).collect()
    }
    assert two[3] == 1 and two[7] == 5  # label 1 reaches only 2 hops
    full = {
        r["node"]: r["label"]
        for r in label_propagation_min(path, iterations=6).collect()
    }
    assert set(full.values()) == {1}


# partition boundaries are the as-of join's only moving part: check each
# hand-computed case at the property test's two widths
_ASOF_PARTITION_COUNTS = ("3", "11")


@contextmanager
def _shuffle_partitions(spark, n_parts):
    """Run the body at ``n_parts`` shuffle partitions and retire the
    as-of joins' persisted unions collected in the yielded list."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    caches: list = []
    spark.conf.set("spark.sql.shuffle.partitions", n_parts)
    try:
        yield caches
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
        for df in caches:
            df.unpersist()


def test_asof_join_semantics(spark):
    """Hand-checked as-of join: inclusive <= at equal timestamps, max
    tiebreak among same-ts snapshots, null before the first snapshot,
    and per-key isolation."""
    from basic_common_crawl_pipeline_spark.operators.temporal import asof_join

    right = spark.createDataFrame(
        [
            ("h1", 10, 100.0, 1),
            ("h1", 20, 200.0, 2),
            ("h1", 20, 250.0, 3),  # same ts, higher order wins
            ("h2", 15, 900.0, 4),
        ],
        "host string, ts long, delay double, rid long",
    )
    left = spark.createDataFrame(
        [
            ("h1", 5, "a"),    # before any snapshot -> null
            ("h1", 10, "b"),   # equal ts -> inclusive
            ("h1", 20, "c"),   # tie: rid 3 wins
            ("h1", 99, "d"),
            ("h2", 14, "e"),   # h2's snapshot is later -> null
            ("h2", 15, "f"),
        ],
        "host string, ts long, tag string",
    )
    for n_parts in _ASOF_PARTITION_COUNTS:
        with _shuffle_partitions(spark, n_parts) as caches:
            out = {
                r["tag"]: (r["delay_asof"], r["rid_asof"])
                for r in asof_join(
                    left, right, on="host", value_cols=("delay", "rid"),
                    right_order="rid", cache=caches,
                ).collect()
            }
        assert out == {
            "a": (None, None),
            "b": (100.0, 1),
            "c": (250.0, 3),
            "d": (250.0, 3),
            "e": (None, None),
            "f": (900.0, 4),
        }, n_parts


def test_asof_join_carries_whole_rows_not_columns(spark):
    """A NULL value column in the winning right row must stay NULL — not
    be backfilled from an OLDER right row (all carried values come from
    the one latest right row)."""
    from basic_common_crawl_pipeline_spark.operators.temporal import asof_join

    right = spark.createDataFrame(
        [("h1", 10, 100.0, 1), ("h1", 20, None, 2)],
        "host string, ts long, delay double, rid long",
    )
    left = spark.createDataFrame(
        [("h1", 25, "a")], "host string, ts long, tag string"
    )
    for n_parts in _ASOF_PARTITION_COUNTS:
        with _shuffle_partitions(spark, n_parts) as caches:
            row = asof_join(
                left, right, on="host", value_cols=("delay", "rid"),
                right_order="rid", cache=caches,
            ).collect()[0]
        assert (row["delay_asof"], row["rid_asof"]) == (None, 2), n_parts


def test_asof_join_exact_for_60bit_ids(spark):
    """Integer value/left columns past 2^53 must survive the Arrow
    passes bit-exactly (the repo's md5-derived 60-bit id convention):
    nullable int64 → pandas float64 would silently round them, so they
    travel as decimal strings and cast back. Schema types unchanged."""
    from basic_common_crawl_pipeline_spark.operators.temporal import asof_join

    big = (1 << 60) + 1  # not representable in float64
    right = spark.createDataFrame(
        [("h1", 10, big), ("h1", 20, big + 2)],
        "host string, ts long, rid long",
    )
    left = spark.createDataFrame(
        [("h1", 15, big + 4), ("h1", 25, big + 6)],
        "host string, ts long, lid long",
    )
    df = asof_join(left, right, on="host", value_cols=("rid",))
    assert dict(df.dtypes) == {
        "host": "string", "ts": "bigint", "lid": "bigint",
        "rid_asof": "bigint",
    }
    got = {r["lid"]: r["rid_asof"] for r in df.collect()}
    assert got == {big + 4: big, big + 6: big + 2}


def test_asof_join_scale_shape_and_determinism(spark):
    """Scale contract of the two-phase as-of join: (a) the only Window
    in the physical plan partitions by the PHYSICAL partition id — never
    by the join key (a hot key never serializes through one task);
    (b) output identical across shuffle-partition counts on a corpus
    with one pathologically hot key, equal to an in-test per-key LOCF
    reference."""
    import random

    from basic_common_crawl_pipeline_spark.operators.temporal import asof_join

    rng = random.Random(11)
    # hot key h0 gets ~80% of both sides; ties on ts included
    lrows = [
        (f"h{0 if rng.random() < 0.8 else rng.randrange(1, 6)}",
         rng.randrange(0, 300), i)
        for i in range(400)
    ]
    rrows = [
        (f"h{0 if rng.random() < 0.8 else rng.randrange(1, 6)}",
         rng.randrange(0, 300), float(i), i)
        for i in range(150)
    ]
    left = spark.createDataFrame(lrows, "host string, ts long, lid long")
    right = spark.createDataFrame(
        rrows, "host string, ts long, v double, rid long"
    )

    # reference: per-key LOCF computed in plain Python
    by_key: dict = {}
    for h, ts, v, rid in rrows:
        by_key.setdefault(h, []).append((ts, rid, v))
    expect = {}
    for h, ts, lid in lrows:
        cands = [c for c in by_key.get(h, []) if c[0] <= ts]
        expect[lid] = max(cands)[1:] if cands else (None, None)

    old = spark.conf.get("spark.sql.shuffle.partitions")
    outs = []
    try:
        for np_ in ("2", "17"):
            spark.conf.set("spark.sql.shuffle.partitions", np_)
            df = asof_join(
                left, right, on="host", value_cols=("rid", "v"),
                right_order="rid",
            )
            import re as _re

            plan = df._jdf.queryExecution().executedPlan().toString()
            # every window spec must be over __pid, none over the key
            assert not _re.search(r"windowspecdefinition\(host#", plan), plan
            assert _re.search(r"windowspecdefinition\(__pid#", plan), plan
            outs.append(
                sorted(
                    (r["lid"], r["rid_asof"], r["v_asof"])
                    for r in df.collect()
                )
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert outs[0] == outs[1]
    got = {lid: (rid, v) for lid, rid, v in outs[0]}
    assert got == expect


def test_bucketed_range_join_exact(spark):
    """Bucketed range join == naive theta join on a case with boundary
    hits, an interval spanning multiple cells, disjoint keys, and no
    duplicate pairs."""
    from basic_common_crawl_pipeline_spark.operators.temporal import (
        bucketed_range_join,
    )

    points = spark.createDataFrame(
        [("k1", 0), ("k1", 10), ("k1", 25), ("k1", 26), ("k2", 10)],
        "key string, p long",
    )
    intervals = spark.createDataFrame(
        [("k1", 10, 25, "w1"), ("k1", 0, 99, "w2"), ("k2", 11, 12, "w3")],
        "key string, s long, e long, wid string",
    )
    got = sorted(
        (r["p"], r["wid"])
        for r in bucketed_range_join(
            points, intervals, on="key", point_col="p",
            start_col="s", end_col="e", bucket_width=7,
        ).collect()
    )
    want = sorted(
        (p, wid)
        for key_p, p in [("k1", 0), ("k1", 10), ("k1", 25), ("k1", 26), ("k2", 10)]
        for key_i, s, e, wid in [("k1", 10, 25, "w1"), ("k1", 0, 99, "w2"), ("k2", 11, 12, "w3")]
        if key_p == key_i and s <= p <= e
    )
    assert got == want
    assert len(got) == len(set(got))  # no duplicate pairs


def test_politeness_unsalted_equals_salted(spark):
    """salt_partitions<=1 (the small-wave fast path) returns the exact
    same per-host top-k as the salted two-phase shape."""
    from basic_common_crawl_pipeline_spark.operators.politeness import (
        select_per_host_topk,
    )

    rows = [
        (f"http://h{i % 5}.test/p{i}", f"h{i % 5}.test",
         f"test,h{i % 5})/p{i}", i % 3, 2 + i % 4)
        for i in range(200)
    ]
    df = spark.createDataFrame(
        rows, "canon_url string, host string, surt string, priority int, budget int"
    )
    salted = {
        r["canon_url"]
        for r in select_per_host_topk(df, salt_partitions=8).collect()
    }
    plain = {
        r["canon_url"]
        for r in select_per_host_topk(df, salt_partitions=1).collect()
    }
    assert salted == plain and len(plain) > 0


def test_rolling_fingerprint_semantics(spark):
    """Rabin-Karp window hashes equal a plain-Python computation; short
    texts yield the -1 sentinel."""
    from basic_common_crawl_pipeline_spark.functions.textstats import (
        RK_BASE,
        RK_K,
        RK_MOD,
        rolling_fingerprint,
    )

    def py_fp(s):
        import re
        s = re.sub(r"\s+", " ", s.strip())
        if len(s) < RK_K:
            return -1
        hashes = []
        for i in range(len(s) - RK_K + 1):
            total = 0
            for j in range(RK_K):
                total += ord(s[i + j]) * RK_BASE ** (RK_K - 1 - j)
            hashes.append(total % RK_MOD)
        return min(hashes)

    texts = ["the quick brown fox", "  spaced   text  here ", "tiny", ""]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id int, text string"
    )
    got = {
        r["doc_id"]: r["fp"]
        for r in df.select(
            "doc_id", rolling_fingerprint("text").alias("fp")
        ).collect()
    }
    assert got == {i: py_fp(t) for i, t in enumerate(texts)}


def test_stateful_seen_dedup_across_batches(spark, tmp_path):
    """Each duplicate URL is emitted exactly once across micro-batches,
    and re-sending the same stream content after a checkpointed run
    emits nothing new (the seen state persists)."""
    from basic_common_crawl_pipeline_spark.streaming.stateful import (
        stateful_seen_dedup,
    )

    urls = spark.range(0, 300).select(
        F.concat(F.lit("http://h.test/p"), (F.col("id") % 40).cast("string"))
        .alias("url")
    )
    qdir = str(tmp_path / "urls")
    urls.repartition(6).write.parquet(qdir)
    ckpt = str(tmp_path / "ckpt")
    outdir = str(tmp_path / "out")

    def drain():
        stream = (
            spark.readStream.schema(urls.schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(qdir)
        )
        q = (
            stateful_seen_dedup(stream, partitions=4)
            .writeStream.format("parquet")
            .option("path", outdir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return [r["url"] for r in spark.read.parquet(outdir).collect()]

    got = drain()
    assert sorted(got) == sorted({f"http://h.test/p{i}" for i in range(40)})
    assert len(got) == 40  # exactly-once emission despite 300 inputs
    # resume from the checkpoint with MORE data: only new urls emit
    more = spark.range(0, 50).select(
        F.concat(F.lit("http://h.test/p"), (F.col("id")).cast("string"))
        .alias("url")
    )
    more.repartition(2).write.mode("append").parquet(qdir)
    got2 = drain()
    assert len(got2) == 50  # 40 originals + exactly the 10 new urls
    assert set(got2) == {f"http://h.test/p{i}" for i in range(50)}


def test_seen_dedup_state_is_bitset_plus_digests():
    """The streaming seen-dedup's per-partition state is a FIXED-size KM
    bitset plus a packed uint64 digest array: state bytes grow at exactly
    8 bytes per unique url, independent of url LENGTH — no in-state
    Python string set. Emission stays exact even when a deliberately
    undersized bloom makes nearly every probe bloom-positive (the digest
    layer disambiguates)."""
    import pandas as pd

    from basic_common_crawl_pipeline_spark.streaming.stateful import (
        _make_dedup_update,
    )

    class FakeState:
        def __init__(self):
            self._v, self.exists = None, False

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v, self.exists = v, True

    def batch(urls):
        # any deterministic per-url int64 stands in for JVM xxhash64 here
        h = [hash(u) % (1 << 63) for u in urls]
        return pd.DataFrame({"url": urls, "__h": pd.array(h, dtype="int64")})

    for m_bits in (1 << 16, 64):  # healthy bloom AND pathological 64-bit
        update = _make_dedup_update(m_bits=m_bits, k=7)
        state = FakeState()
        long = "http://host.test/" + "x" * 500 + "/p"
        b1 = [f"{long}{i}" for i in list(range(30)) + list(range(10))]
        out1 = list(update((0,), iter([batch(b1)]), state))[0]
        assert sorted(out1["url"]) == sorted(f"{long}{i}" for i in range(30))
        bits, digests = state.get
        assert len(bits) == m_bits // 8          # fixed, fill-independent
        assert len(digests) == 8 * 30            # 8 B/url, not O(len(url))
        # second micro-batch: 30 dups + 20 new, split across two pdfs
        b2a = [f"{long}{i}" for i in range(25)]
        b2b = [f"{long}{i}" for i in range(25, 50)]
        out2 = list(update((0,), iter([batch(b2a), batch(b2b)]), state))[0]
        assert sorted(out2["url"]) == sorted(
            f"{long}{i}" for i in range(30, 50)
        )
        bits2, digests2 = state.get
        assert len(bits2) == m_bits // 8
        assert len(digests2) == 8 * 50


def test_seen_dedup_digest_merge_is_incremental():
    """The per-batch state update must MERGE the sorted digest array
    (sort only the fresh batch, splice with searchsorted+insert), never
    re-sort the whole history: with a large existing state and a tiny
    fresh batch, np.sort runs only over fresh-batch-sized input. Result
    equals the full re-sort bit-for-bit."""
    import numpy as np

    from basic_common_crawl_pipeline_spark.streaming import stateful

    rng = np.random.default_rng(3)
    old = np.sort(rng.integers(0, 1 << 63, 100_000, dtype=np.uint64))
    fresh = [
        rng.integers(0, 1 << 63, 40, dtype=np.uint64),
        rng.integers(0, 1 << 63, 25, dtype=np.uint64),
    ]

    sorted_sizes = []
    real_sort = stateful.np.sort

    def spy_sort(a, *args, **kw):
        sorted_sizes.append(len(a))
        return real_sort(a, *args, **kw)

    stateful.np.sort = spy_sort
    try:
        merged = stateful._merge_sorted_digests(old, [f.copy() for f in fresh])
    finally:
        stateful.np.sort = real_sort
    assert max(sorted_sizes) == 65  # only the fresh batch was sorted
    expect = real_sort(np.concatenate([old] + fresh))
    assert np.array_equal(merged, expect)
    # empty-state path
    assert np.array_equal(
        stateful._merge_sorted_digests(np.empty(0, dtype=np.uint64), fresh),
        real_sort(np.concatenate(fresh)),
    )


def test_trained_ivf_centroids_beat_fixed(spark):
    """k-means-trained coarse centroids (train_ivf_centroids) must match
    or beat the fixed random centroids on the test corpus: mean top-10
    recall at nprobe=2 over 10 queries >= the fixed variant's (measured:
    0.56 vs 0.48 — everything is deterministic, so these are stable),
    every inverted list non-empty, and the sample occupancy report
    present. The fixed default stays for the oracle queries."""
    import statistics

    import numpy as np

    from basic_common_crawl_pipeline_spark.operators.similarity import (
        ivf_centroids,
        ivf_topk,
        train_ivf_centroids,
    )

    emb = _emb(spark)
    info: dict = {}
    trained = train_ivf_centroids(emb, n_lists=8, info=info)
    assert sum(info["sample_list_counts"]) == emb.count()
    assert min(info["sample_list_counts"]) > 0
    fixed = ivf_centroids(n_lists=8)

    rows = emb.select("vec_id", "embedding").collect()
    ids = [r["vec_id"] for r in rows]
    V = np.array([list(r["embedding"]) for r in rows], dtype=np.float64)
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)

    def brute10(qi):
        cos = Vn @ Vn[ids.index(qi)]
        order = sorted(
            range(len(ids)),
            key=lambda i: (-np.floor(cos[i] * 10000 + 0.5) / 10000, ids[i]),
        )
        return {ids[i] for i in order[:10]}

    recall = {"fixed": [], "trained": []}
    for qi in ids[:10]:
        want = brute10(qi)
        for name, cents in (("fixed", fixed), ("trained", trained)):
            got = {
                r["vec_id"]
                for r in ivf_topk(
                    emb, qi, k=10, nprobe=2, centroids=cents
                ).collect()
            }
            recall[name].append(len(got & want) / 10)
    mean_fixed = statistics.mean(recall["fixed"])
    mean_trained = statistics.mean(recall["trained"])
    assert mean_trained >= mean_fixed, (mean_trained, mean_fixed)
    assert mean_trained >= 0.5


def _union_find_components(edges, nodes=()):
    """Reference CC labels: node -> min node id of its component."""
    parent = {n: n for n in nodes}
    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:  # the smaller root wins, so roots are component mins
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_connected_components_star_log_rounds(spark):
    """Large-star/small-star CC: a 64-node chain (diameter 63, where
    min-label propagation provably needs ~64 rounds) converges in
    O(log n) rounds with the correct single component; random and
    clique-like graphs agree exactly with a union-find; isolated nodes
    from the nodes frame label themselves; max_iterations raises instead
    of returning unconverged labels."""
    import random

    import pytest as _pytest

    from basic_common_crawl_pipeline_spark.operators.graph import (
        connected_components_star,
        label_propagation_min,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "src long, dst long"
    )
    info: dict = {}
    got = {
        r["node"]: r["label"]
        for r in connected_components_star(chain, info=info).collect()
    }
    assert got == {i: 0 for i in range(64)}
    assert info["rounds"] <= 12, info  # log-round, not diameter-round
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components_star(chain, max_iterations=2)

    rng = random.Random(13)
    edges = list(
        {
            (rng.randrange(0, 60), rng.randrange(0, 60))
            for _ in range(70)
        }
    )
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "src long, dst long")
    nodes = spark.createDataFrame([(i,) for i in range(70)], "doc_id long")
    star = {
        r["node"]: r["label"]
        for r in connected_components_star(df, nodes=nodes).collect()
    }
    assert star == _union_find_components(edges, range(70))
    assert star[69] == 69

    # clique-like near-dup graph + an isolated node: the star path and
    # the fixed 4-round propagation both give the union-find labels
    cliq_edges = [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12)]
    cliq = spark.createDataFrame(cliq_edges, "src long, dst long")
    cliq_nodes = (1, 2, 3, 10, 11, 12, 99)
    nodes = spark.createDataFrame([(i,) for i in cliq_nodes], "doc_id long")
    want = _union_find_components(cliq_edges, cliq_nodes)
    for got in (
        connected_components_star(cliq, nodes=nodes),
        label_propagation_min(cliq, iterations=4, nodes=nodes),
    ):
        assert {r["node"]: r["label"] for r in got.collect()} == want


def test_semantic_dedup_drop_rule_vs_numpy(spark):
    """semantic_dedup's kept set must equal the numpy replay of the
    contract: assign to argmax-round4-cosine centroid, then drop any
    vector with a smaller-id same-cluster mate at round4-cos >= t."""
    import math

    import numpy as np

    from basic_common_crawl_pipeline_spark.operators.similarity import (
        ivf_centroids,
        semantic_dedup,
    )

    emb = _emb(spark)
    cents = ivf_centroids(16, 64)
    out = {
        r["vec_id"]: (r["list_id"], r["kept"])
        for r in semantic_dedup(emb, threshold=0.35, centroids=cents).collect()
    }
    rows = emb.select("vec_id", "embedding").collect()
    ids = [r["vec_id"] for r in rows]
    V = np.array([list(r["embedding"]) for r in rows], dtype=np.float64)
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    C = np.array(cents, dtype=np.float64)
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
    r4 = lambda x: math.floor(x * 1e4 + 0.5) / 1e4
    scores = Vn @ Cn.T
    assign = {}
    for i, vid in enumerate(ids):
        s = [r4(x) for x in scores[i]]
        assign[vid] = s.index(max(s))
    cos = Vn @ Vn.T
    order = sorted(range(len(ids)), key=lambda i: ids[i])
    for i in order:
        vid = ids[i]
        want_kept = not any(
            ids[j] < vid
            and assign[ids[j]] == assign[vid]
            and r4(cos[i][j]) >= 0.35
            for j in range(len(ids))
        )
        assert out[vid] == (assign[vid], want_kept), vid
    assert any(not kept for _, kept in out.values())  # rule actually fires


def test_semantic_dedup_hot_cluster_cap_keeps_members(spark):
    """An over-cap cluster is excluded from PAIRING, not from the
    output: all its members come back kept=True."""
    from basic_common_crawl_pipeline_spark.operators.similarity import (
        ivf_centroids,
        semantic_dedup,
    )

    emb = _emb(spark)
    cents = ivf_centroids(16, 64)
    out = semantic_dedup(emb, threshold=0.35, centroids=cents, cell_cap=2)
    n = emb.count()
    assert out.count() == n
    # with every cluster > 2 members excluded from pairing, nearly all
    # rows survive; crucially none are LOST
    assert out.filter("kept").count() >= out.count() - 2


# ---------------------------------------------------------------------------
# product quantization (operators/similarity.py::pq_encode / pq_topk)
# ---------------------------------------------------------------------------


def _pq_ref_codes(vec, codebooks):
    """Pure-Python twin of pq_encode: round4 of the left-to-right double
    accumulation per (subspace, centroid), first-minimum tie rule."""
    from basic_common_crawl_pipeline_spark.operators.similarity import (
        _py_round4,
    )

    subdim = len(codebooks[0][0])
    codes = []
    for j, cb in enumerate(codebooks):
        dists = []
        for cent in cb:
            acc = 0.0
            for i, w in enumerate(cent):
                d = float(vec[j * subdim + i]) - float(w)
                acc = acc + d * d
            dists.append(_py_round4(acc))
        codes.append(dists.index(min(dists)))
    return codes


def _pq_corpus(n=120, seed=3):
    import random as _r

    rnd = _r.Random(seed)
    return [
        (i, [round(rnd.gauss(0.0, 1.0), 4) for _ in range(64)])
        for i in range(n)
    ]


def test_pq_encode_matches_python_reference(spark):
    from basic_common_crawl_pipeline_spark.operators.similarity import (
        pq_codebooks,
        pq_encode,
    )

    cb = pq_codebooks()
    rows = _pq_corpus()
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = {
        r["vec_id"]: (list(r["pq_code"]), r["pq_word"])
        for r in pq_encode(df, cb).collect()
    }
    for vec_id, vec in rows:
        ref = _pq_ref_codes(vec, cb)
        word = sum(c * 16**j for j, c in enumerate(ref))
        assert got[vec_id] == (ref, word), vec_id
    # partition invariance
    got7 = {
        r["vec_id"]: (list(r["pq_code"]), r["pq_word"])
        for r in pq_encode(df.repartition(7), cb).collect()
    }
    assert got7 == got


def test_pq_topk_recall_after_rerank(spark):
    from basic_common_crawl_pipeline_spark.operators.similarity import (
        pq_codebooks,
        pq_topk,
    )

    rows = _pq_corpus()
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    qvec = rows[5][1]

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = sum(x * x for x in a) ** 0.5
        nb = sum(x * x for x in b) ** 0.5
        return dot / (na * nb)

    true_top = [
        i
        for i, _ in sorted(
            ((i, cos(v, qvec)) for i, v in rows),
            key=lambda t: (-t[1], t[0]),
        )[:10]
    ]
    got = [r["vec_id"] for r in pq_topk(df, qvec, k=10, shortlist=50).collect()]
    # deterministic fixture → recall is a constant of the seeds; the
    # exact-rerank stage means every returned id's cosine is exact, so
    # the only loss is shortlist misses. Pin a conservative floor.
    recall = len(set(got) & set(true_top)) / 10
    assert recall >= 0.5, (recall, got, true_top)
    # the query point itself always survives ADC (distance ~0 to its
    # own codes) and reranks to the top
    assert got[0] == 5


def test_incremental_dedup_cross_snapshot(spark):
    """Cross-snapshot wave-vs-corpus dedup (operators/dedup.py::
    incremental_dedup): a new doc that exactly duplicates an old doc is
    dropped with both legs firing (jaccard 1.0 near-match included); a
    near-duplicate (one token changed) is dropped by the near leg only;
    a genuinely new doc keeps; and two new docs that duplicate EACH
    OTHER but nothing old both keep — within-batch dedup is explicitly
    out of scope (exact_dedup / minhash_lsh_dedup's job)."""
    from basic_common_crawl_pipeline_spark.operators.dedup import (
        incremental_dedup,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    old = spark.createDataFrame(
        [
            (100, base),
            (101, "completely different words about spark and parquet files"),
            (102, base),  # second copy: exact leg must pick min old id
        ],
        ["doc_id", "text"],
    )
    twin = "twin document repeated inside the new batch only never seen before"
    new = spark.createDataFrame(
        [
            (1, "the  quick brown fox jumps over the lazy dog again and again today "),
            (2, near),
            (3, "a genuinely novel document with entirely fresh vocabulary here"),
            (4, twin),
            (5, twin),
        ],
        ["doc_id", "text"],
    )
    out = {
        r.id: r
        for r in incremental_dedup(new, old, threshold=0.5).collect()
    }
    assert set(out) == {1, 2, 3, 4, 5}
    # exact dup (whitespace-normalized): both legs, min old id, dropped
    assert out[1].exact_old_id == 100
    assert out[1].near_old_id == 100
    assert out[1].best_jaccard == 1.0
    assert out[1].keep == 0
    # near dup: exact leg misses, near leg hits with jaccard in (0.5, 1)
    assert out[2].exact_old_id is None
    assert out[2].near_old_id == 100
    assert 0.5 < out[2].best_jaccard < 1.0
    assert out[2].n_near >= 1
    assert out[2].keep == 0
    # novel doc keeps with empty match columns
    assert out[3].exact_old_id is None and out[3].near_old_id is None
    assert out[3].n_near == 0 and out[3].keep == 1
    # within-batch twins: no old match -> BOTH keep
    assert out[4].keep == 1 and out[5].keep == 1


def test_span_dedup_semantics(spark):
    """Exact duplicate-span removal (operators/dedup.py::span_dedup):
    the globally-first occurrence of a duplicated 5-gram window is kept;
    later occurrences are removed with overlapping windows merged into
    one maximal span; a fully-duplicated document reassembles to '';
    within-doc repeats drop the second copy; unique docs are untouched."""
    from basic_common_crawl_pipeline_spark.operators.dedup import span_dedup

    rows = [
        (1, "A B C D E F x y z"),          # first occurrence: kept whole
        (2, "p q A B C D E F r"),          # shares 6-token phrase -> one span
        (3, "A B C D E F x y z"),          # full duplicate of doc 1 -> ''
        (4, "m n o p q m n o p q"),        # within-doc repeat -> second half
        (5, "totally unique words that appear nowhere else at all"),
    ]
    out = {
        r.doc_id: r
        for r in span_dedup(
            spark.createDataFrame(rows, ["doc_id", "text"]), n=5
        ).collect()
    }
    assert set(out) == {1, 2, 3, 4, 5}
    # doc 1 is the first occurrence of every shared window: untouched
    assert out[1].text_deduped == "A B C D E F x y z"
    assert out[1].n_spans == 0 and out[1].n_dup_tokens == 0
    # doc 2: windows at pos 2 ("A B C D E") and pos 3 ("B C D E F")
    # duplicate doc 1's pos-0/pos-1 windows; merged span covers tokens
    # 2..7 -> "p q ... r" survives as one 3-token doc
    assert out[2].text_deduped == "p q r"
    assert out[2].n_spans == 1
    assert out[2].n_dup_tokens == 6 and out[2].n_kept == 3
    # doc 3: every window duplicates doc 1 -> all 9 tokens covered
    assert out[3].text_deduped == ""
    assert out[3].n_spans == 1 and out[3].n_kept == 0
    assert out[3].n_tokens == 9 and out[3].n_dup_tokens == 9
    # doc 4: "m n o p q" repeats at pos 5 within the SAME doc -> the
    # second copy is the duplicate; first stays
    assert out[4].text_deduped == "m n o p q"
    assert out[4].n_spans == 1 and out[4].n_dup_tokens == 5
    # unique doc untouched
    assert out[5].n_spans == 0
    assert out[5].text_deduped == rows[4][1]


def test_nb_quality_classifier_learns_class_vocab(spark):
    """Trained quality classifier (operators/training.py::
    nb_quality_classifier): fit on a labeled seed subset, score the
    whole corpus. Held-out docs written in the positive class's
    vocabulary must score positive, negative-vocab docs negative, and a
    doc with no training-vocabulary overlap scores exactly 0 (every
    weight missing -> coalesce(0)). Weights live in the integer-exact
    domain, so scores are exact BIGINTs."""
    from basic_common_crawl_pipeline_spark.operators.training import (
        nb_quality_classifier,
    )

    good = "clear thoughtful prose with careful structured argument"
    bad = "spam junk noise clickbait garbage keyword stuffing blob"
    rows = (
        [(i, good + f" variation {i}") for i in range(4)]
        + [(10 + i, bad + f" variation {i}") for i in range(4)]
        + [(20, "thoughtful careful structured writing here")]   # held-out +
        + [(21, "junk clickbait garbage spam everywhere")]       # held-out -
        + [(22, "zz qq xx yy ww vv")]                            # no overlap
    )
    corpus = spark.createDataFrame(rows, ["doc_id", "text"])
    labels = spark.createDataFrame(
        [(i, 1) for i in range(4)] + [(10 + i, 0) for i in range(4)],
        ["doc_id", "label"],
    )
    out = {
        r.doc_id: r
        for r in nb_quality_classifier(corpus, labels).collect()
    }
    assert set(out) == {i for i, _ in rows}
    # training docs classify correctly (their own vocab dominates)
    for i in range(4):
        assert out[i].predict == 1, out[i]
        assert out[10 + i].predict == 0, out[10 + i]
    # held-out docs follow the class vocabulary
    assert out[20].predict == 1 and out[20].score_int > 0
    assert out[21].predict == 0 and out[21].score_int < 0
    # disjoint-vocab doc: zero hits, zero score, negative class
    assert out[22].n_hits == 0 and out[22].score_int == 0
    assert out[22].predict == 0
    # shared token "variation i" carries weight 0 (balanced classes):
    # floor(1e4 * (c+1)/(2c+2) + .5) - 5000 == 0 exactly
    assert out[20].n_tok == 5


def test_incremental_dedup_streaming_equals_batch(spark, tmp_path):
    """The streaming-legal cross-snapshot dedup (operators/dedup.py::
    incremental_dedup_streaming) drained over REAL micro-batches equals
    the identical plan run on the batch input, and its semantics hold:
    an exact duplicate of an old doc matches both legs with agreement
    1.0, a near-duplicate matches the near leg only, novel docs keep."""
    from basic_common_crawl_pipeline_spark.operators.dedup import (
        incremental_dedup_streaming,
    )
    from basic_common_crawl_pipeline_spark.streaming.queue_stream import (
        consume_batches,
        run_stream_to_memory,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    old = spark.createDataFrame(
        [(100, base), (101, "completely different words about spark files")],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [
            (1, base),
            (2, near),
            (3, "a genuinely novel document with fresh vocabulary"),
            (4, "xy"),  # shingle-less: must never band-match
        ],
        ["doc_id", "text"],
    )
    batch = incremental_dedup_streaming(new, old).collect()
    out = {r.id: r for r in batch}
    assert out[1].exact_old_id == 100 and out[1].near_old_id == 100
    assert out[1].best_est == 1.0 and out[1].keep == 0
    assert out[2].exact_old_id is None and out[2].near_old_id == 100
    assert 0.5 <= out[2].best_est < 1.0 and out[2].keep == 0
    assert out[3].keep == 1 and out[4].keep == 1
    assert out[4].n_near == 0

    qdir = str(tmp_path / "wave")
    new.repartition(4).write.parquet(qdir)
    stream = consume_batches(spark, qdir, new.schema, max_files_per_trigger=1)
    drained = run_stream_to_memory(
        spark,
        incremental_dedup_streaming(stream, old),
        "incdedup_eq_test",
        str(tmp_path / "ckpt"),
        output_mode="complete",
    ).collect()
    assert sorted(map(tuple, drained), key=lambda t: t[0]) == sorted(
        map(tuple, batch), key=lambda t: t[0]
    )


def test_session_window_break_rule_at_exact_gap(spark):
    """Pins the semantics the w2_session_window oracle encodes: Spark's
    native session_window merges two events when their gap is AT MOST
    the threshold (a session's interval is [t, t+gap]; touching
    intervals merge), so the oracle's island break is `> gap`, NOT
    `>= gap` — the two rules are indistinguishable on random-µs
    corpora, which is exactly why this boundary-exact pin exists."""
    from datetime import datetime, timedelta

    base = datetime(2024, 1, 1)
    rows = [
        (1, base),
        (1, base + timedelta(minutes=29, seconds=59)),  # < gap: merges
        (1, base + timedelta(minutes=59, seconds=59)),  # == gap: MERGES
        (2, base),
        (2, base + timedelta(minutes=30, microseconds=1)),  # > gap: breaks
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = (
        df.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("w")
        )
        .agg(F.count("*").alias("n"))
        .collect()
    )
    per_user = {}
    for r in out:
        per_user.setdefault(r["user_id"], []).append(r["n"])
    assert sorted(per_user[1]) == [3]
    assert sorted(per_user[2]) == [1, 1]


def test_session_window_streams_and_merges_across_microbatches(
    spark, tmp_path
):
    """Pins w2_session_window's 'works under Structured Streaming with a
    watermark' claim: the SAME session_window aggregation run over a
    file-queue stream (events split across micro-batches, one file per
    trigger) equals the batch result — including a session whose events
    ARRIVE IN DIFFERENT MICRO-BATCHES (state-store session merge) and a
    boundary-exact == gap merge."""
    from datetime import datetime, timedelta

    from basic_common_crawl_pipeline_spark.streaming.queue_stream import (
        consume_batches,
        run_stream_to_memory,
    )

    base = datetime(2024, 3, 1)
    rows = [
        (1, base, 10),
        (1, base + timedelta(minutes=20), 11),  # < gap: merges
        (1, base + timedelta(minutes=50), 12),  # == gap from prev: MERGES
        (1, base + timedelta(minutes=81), 13),  # > gap: new session
        (2, base + timedelta(minutes=5), 20),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, v long")

    def sessions(d):
        return (
            d.groupBy(
                "user_id", F.session_window("ts", "30 minutes").alias("w")
            )
            .agg(
                F.count("*").cast("long").alias("n"),
                F.sum("v").cast("long").alias("sv"),
            )
            .select(
                "user_id",
                F.unix_micros("w.start").alias("start_us"),
                "n",
                "sv",
            )
        )

    want = sorted(map(tuple, sessions(df).collect()))
    assert [t[2] for t in want] == [3, 1, 1]  # the batch shape itself

    qdir = str(tmp_path / "events")
    df.repartition(5).write.parquet(qdir)
    stream = consume_batches(spark, qdir, df.schema, max_files_per_trigger=1)
    got = run_stream_to_memory(
        spark,
        sessions(stream.withWatermark("ts", "10 days")),
        "w2_stream_sessions",
        str(tmp_path / "ckpt"),
        output_mode="complete",
    )
    assert sorted(map(tuple, got.collect())) == want


def test_span_dedup_grouped_strategy_equals_window(spark):
    """span_dedup's first-occurrence mark is the hot-gram-safe grouped
    shape (map-side-combined groupBy-min over the cached gram table +
    dup-only join back — no task ever holds a whole gram group): equal
    to the pure-Python reference on a boilerplate-heavy corpus where ONE
    5-gram appears in half the docs, and the physical plan really is the
    safe shape: partial_min below the exchange, no window over the gram
    hash (a boilerplate gram must never serialize through a single
    window task)."""
    from basic_common_crawl_pipeline_spark.operators.dedup import span_dedup
    from tests.test_span_dedup_property import _reference

    boiler = "all rights reserved contact us"
    rows = [
        (i, f"{boiler} unique tail {i} alpha beta")
        if i % 2 == 0
        else (i, f"original body {i} gamma delta epsilon zeta eta")
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    want = sorted((i, *r) for i, r in _reference(rows, 5).items())
    cache: list = []
    got_df = span_dedup(df, n=5, cache=cache)
    assert sorted(map(tuple, got_df.collect())) == want
    for f in cache:
        f.unpersist()
    # the first boilerplate doc keeps the phrase; every later one loses it
    by_id = {t[0]: t for t in want}
    assert by_id[0][5].startswith(boiler)
    assert by_id[2][5].startswith("unique tail") or boiler not in by_id[2][5]

    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert "partial_min" in plan
    first, _, rest = plan.partition("windowspecdefinition")
    assert "__h" not in rest.split(")")[0]  # no window keyed on the hash


def test_kmeans_int_matches_python_reference(spark):
    """Distributed fixed-point k-means (operators/similarity.py::
    kmeans_int) equals a pure-Python replay of the same integer
    contract — quantize round-half-up, smallest-id init, integer
    squared-L2 with smallest-index ties, exactly-divisible round-half-up
    centroid update, empty clusters keep their centroid — under two
    shuffle-partition counts, and the per-round update is map-side
    combined (partial_sum in the plan, no window)."""
    import math

    from basic_common_crawl_pipeline_spark.operators.similarity import (
        kmeans_int,
    )

    rng_rows = []
    for i in range(40):
        # deterministic 4-dim vectors in [-0.5, 0.5), clustered by i % 3
        base = [(i % 3) * 0.3 - 0.3, (i % 3) * 0.1, 0.05 * (i % 7), -0.2]
        rng_rows.append(
            (i, [float(b + 0.001 * ((i * 13 + d) % 11)) for d, b in enumerate(base)])
        )

    from tests.kmeans_ref import kmeans_int_ref as ref

    want = ref(rng_rows, k=3, rounds=2)
    df = spark.createDataFrame(rng_rows, ["vec_id", "embedding"])
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for n_parts in ("3", "8"):
            spark.conf.set("spark.sql.shuffle.partitions", n_parts)
            cache: list = []
            out = kmeans_int(df, k=3, rounds=2, cache=cache)
            got = {r["vec_id"]: r["cluster"] for r in out.collect()}
            plan = out._jdf.queryExecution().executedPlan().toString()
            # final assignment is a narrow projection over the cached
            # quantized frame: no window, no shuffle
            assert "windowspecdefinition" not in plan
            assert "Exchange" not in plan
            for c in cache:
                c.unpersist()
            assert got == want, f"shuffle_partitions={n_parts}"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_emb_kmeans_bench_trial_leaves_no_cached_copy(spark):
    """The emb_kmeans entry hands its persisted quantized frame to its
    caller; a bench trial of its declared action (exactly as bench.py
    runs it) must release that frame, so no trial leaves a cached copy
    of the embeddings behind. The flagship is a committed one-wave
    crawl whose rows are read from its snapshot store, so calling it
    and reading its rows leaves no persisted RDD at all."""
    from basic_common_crawl_pipeline_spark.plans import catalog
    from tests.conftest import SF_SMALL

    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    for _ in range(2):
        catalog.bench_trial(spark, SF_SMALL, "emb_kmeans")
    assert set(jsc.getPersistentRDDs().keySet()) == before

    catalog.pages_from_documents(spark, SF_SMALL)  # memoized
    for _ in range(2):
        before = set(jsc.getPersistentRDDs().keySet())
        try:
            out = catalog.QUERIES["crawl_wave_flagship"](spark, SF_SMALL)
            assert out.count() > 0
            # new ids only: the map holds RDDs weakly, so an older
            # frame's RDD may leave it at any GC
            assert set(jsc.getPersistentRDDs().keySet()) - before == set()
        finally:
            catalog.release_caller(spark)


def test_catalog_bench_trials_leave_no_dir_view_or_cache(
    spark, tmp_path, monkeypatch
):
    """Entries that write files or drain a stream hand the directories
    and the in-memory view to their caller; bench trials of them (as
    bench.py runs them) leave the scratch root's listing, the persisted
    RDDs and the session's tables as they found them, and write nothing
    into the temp dir outside the scratch root."""
    import os
    import tempfile

    from basic_common_crawl_pipeline_spark.plans import catalog
    from tests.conftest import SF_SMALL

    jsc = spark.sparkContext._jsc
    root = catalog._scratch_root()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))

    def state():
        return (
            sorted(os.listdir(root)),
            sorted(os.listdir(tmp_path)),
            set(jsc.getPersistentRDDs().keySet()),
            sorted(t.name for t in spark.catalog.listTables()),
        )

    before = state()
    for name in ("warc_ingest", "warc_range_fetch", "stream_windowed_events"):
        for _ in range(2):
            catalog.bench_trial(spark, SF_SMALL, name)
        assert state() == before, name


def test_release_caller_after_collect_leaves_session_as_found(spark):
    """The correctness-gate path (scripts/check_correctness.py): build an
    entry, collect its rows, then ``release_caller``. The drained
    stream's in-memory view, its directories and any caches it handed
    over are gone, as after a bench trial."""
    import os

    from basic_common_crawl_pipeline_spark.plans import catalog
    from tests.conftest import SF_SMALL

    jsc = spark.sparkContext._jsc
    root = catalog._scratch_root()

    def state():
        return (
            sorted(os.listdir(root)),
            set(jsc.getPersistentRDDs().keySet()),
            sorted(t.name for t in spark.catalog.listTables()),
        )

    before = state()
    assert catalog.QUERIES["stream_windowed_events"](spark, SF_SMALL).collect()
    assert state() != before
    catalog.release_caller(spark)
    assert state() == before


def test_sql_entry_leaves_session_tables_unchanged(spark):
    """sql_revenue_by_segment hands its tables to ``spark.sql`` as
    DataFrame arguments, whose views are dropped within the call:
    building and collecting the entry leaves the session's tables as
    they were."""
    from basic_common_crawl_pipeline_spark.plans import catalog
    from tests.conftest import SF_SMALL

    before = sorted(t.name for t in spark.catalog.listTables())
    assert catalog.QUERIES["sql_revenue_by_segment"](spark, SF_SMALL).collect()
    assert sorted(t.name for t in spark.catalog.listTables()) == before


def test_scratch_root_is_removed_at_exit(tmp_path):
    """The catalog's scratch root goes when the process exits: a plain
    Python process (no Spark session) that writes into a scratch
    directory leaves its temp dir empty."""
    import os
    import subprocess
    import sys

    code = (
        "import os\n"
        "from basic_common_crawl_pipeline_spark.plans import catalog\n"
        "d = catalog._scratch_dir('probe')\n"
        "open(os.path.join(d, 'f'), 'w').write('x')\n"
        "print(catalog._scratch_root())\n"
    )
    done = subprocess.run(
        [sys.executable, "-c", code],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        env={**os.environ, "TMPDIR": str(tmp_path)},
        capture_output=True, text=True, check=True,
    )
    root = done.stdout.strip()
    assert os.path.dirname(root) == str(tmp_path)
    assert not os.path.exists(root)
    assert os.listdir(tmp_path) == []


def test_kmeans_int_empty_cluster_keeps_centroid(spark):
    """A centroid that attracts no members keeps its coordinates: two
    far-apart initial centroids where every vector sits at one of them —
    the empty cluster must survive the update and still win its own
    vector at the final assignment."""
    from basic_common_crawl_pipeline_spark.operators.similarity import (
        kmeans_int,
    )

    rows = [
        (0, [0.0, 0.0]),
        (1, [0.4, 0.4]),
        (2, [0.4, 0.4]),
        (3, [0.4, 0.4]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cache: list = []
    got = {
        r["vec_id"]: r["cluster"]
        for r in kmeans_int(df, k=2, rounds=3, cache=cache).collect()
    }
    for c in cache:
        c.unpersist()
    assert got == {0: 0, 1: 1, 2: 1, 3: 1}


def test_neardup_pairs_shuffle_path_equals_broadcast_path(spark):
    """r6 pin: neardup_pairs' two verify-join strategies (broadcast
    vectors when the table fits vs co-partitioned shuffled joins at
    scale) must return identical pairs."""
    from basic_common_crawl_pipeline_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    c1: list = []
    c2: list = []
    a = similarity.neardup_pairs(emb, threshold=0.35, cache=c1)
    b = similarity.neardup_pairs(
        emb, threshold=0.35, cache=c2, broadcast_max_bytes=0
    )
    got = sorted((r["a"], r["b"], r["cos"]) for r in a.collect())
    want = sorted((r["a"], r["b"], r["cos"]) for r in b.collect())
    assert got == want and len(got) > 0
    for c in c1 + c2:
        c.unpersist()


def test_semantic_dedup_kernel_path_equals_jvm_path(spark):
    """r6 pin: semantic_dedup's Arrow batch-kernel verify (used above
    kernel_min_vectors) must produce the identical kept set as the JVM
    fold path."""
    from basic_common_crawl_pipeline_spark.operators.similarity import (
        semantic_dedup,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    c1: list = []
    c2: list = []
    a = semantic_dedup(
        emb, threshold=0.35, cache=c1, kernel_min_vectors=0
    )
    b = semantic_dedup(
        emb, threshold=0.35, cache=c2, kernel_min_vectors=1 << 40
    )
    got = sorted((r["vec_id"], r["list_id"], r["kept"]) for r in a.collect())
    want = sorted(
        (r["vec_id"], r["list_id"], r["kept"]) for r in b.collect()
    )
    assert got == want and len(got) > 0
    for c in c1 + c2:
        c.unpersist()
