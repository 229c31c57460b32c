"""Inverted-index retrieval: term-partitioned posting lists with
BM25 scoring over a partition-pruned probe.

The full-scan BM25 entry (plans/catalog.py::text_bm25_topk) re-derives
tf/dl from the raw text on every query — the right plan when the query
set is unknown and the corpus is scanned once anyway. A retrieval
SERVICE over a 100-TB corpus wants the complement: pay one indexing job
that materializes ``(term, doc_id, tf, dl)`` posting lists physically
partitioned by ``bucket = xxhash64(term) mod B``, then answer each
query by opening ONLY the buckets of its terms — partition pruning, the
same physical-layout story as ``similarity.write_sig_partitioned`` /
``write_ivf_partitioned`` for ANN (the text twin). Corpus-global
scoring scalars (N, Σdl) are computed at index time into a one-row
``meta`` table; per-term document frequencies come from the probed
postings themselves (every posting of a term lives in that term's
bucket, so the probed df IS the global df).

Score parity: the score ``Column`` is built by ``bm25_score_expr`` —
one definition shared with the full-scan entry, so the float
association order is bit-identical on both paths (Catalyst never
reassociates float expressions) and one DuckDB oracle serves both.
No reference analog (the reference has no retrieval surface); this is
the training-data-pipeline "search over the curated corpus" primitive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import round4
from ..functions.textstats import word_tokens

# k1=1.2, b=0.75 — pinned as the EXACT double literals 2.2 / 1.2 /
# 0.25 / 0.75 (not computed: 1.2 + 1.0 rounds to a different ulp than
# the literal 2.2). The oracle SQL spells the same literals.
_K1_PLUS_1 = 2.2
_K1 = 1.2
_ONE_MINUS_B = 0.25
_B = 0.75


def bm25_score_expr(terms: tuple[str, ...]) -> F.Column:
    """BM25 score over columns ``dl``, ``tf_<t>``, ``df_<t>``,
    ``n_docs``, ``sum_dl``. idf is the Robertson odds ratio
    (N - df + 0.5)/(df + 0.5) WITHOUT the log — monotone-identical
    ranking and bit-exact cross-engine (libm ln is not bit-specified).
    ONE definition for the full-scan and indexed paths: identical
    association order is what lets them share a DuckDB oracle."""
    score = None
    for t in terms:
        idf = (F.col("n_docs") - F.col(f"df_{t}") + F.lit(0.5)) / (
            F.col(f"df_{t}") + F.lit(0.5)
        )
        term = (
            idf
            * (F.col(f"tf_{t}") * F.lit(_K1_PLUS_1))
            / (
                F.col(f"tf_{t}")
                + F.lit(_K1)
                * (
                    F.lit(_ONE_MINUS_B)
                    + F.lit(_B)
                    * (F.col("dl") / (F.col("sum_dl") / F.col("n_docs")))
                )
            )
        )
        score = term if score is None else score + term
    return score


def write_inverted_index(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 64,
) -> None:
    """The indexing job: materialize ``<path>/postings`` — one row per
    (term, doc) with the occurrence count and the doc length, physically
    partitioned by ``bucket`` — plus ``<path>/meta`` (one row: corpus
    doc count and token mass, the scoring scalars no probe can see).

    Scale shape: one explode + ONE shuffle whose volume is the distinct
    (term, doc) pairs (map-side combine collapses repeat occurrences
    before the exchange); the write fans out by bucket without a second
    shuffle. Postings are sorted by term within each task's output so a
    term's list is contiguous on disk. Terms are lowercased occurrences
    of ``word_tokens`` (empty tokens excluded — exactly the full-scan
    entry's tf/dl tokenization)."""
    toks = word_tokens(text_col)
    docs = df.select(
        F.col(id_col).alias("doc_id"),
        F.filter(toks, lambda x: x != "").alias("__toks"),
    ).select(
        "doc_id", F.size("__toks").cast("long").alias("dl"), "__toks"
    )
    postings = (
        docs.select("doc_id", "dl", F.explode("__toks").alias("__t"))
        .select("doc_id", "dl", F.lower("__t").alias("term"))
        .groupBy("term", "doc_id", "dl")
        .agg(F.count("*").cast("long").alias("tf"))
        .withColumn(
            "bucket",
            F.pmod(F.xxhash64("term"), F.lit(num_buckets)).cast("int"),
        )
    )
    (
        postings.sortWithinPartitions("term", "doc_id")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path + "/postings")
    )
    (
        docs.agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("dl").cast("long").alias("sum_dl"),
        )
        # bucket geometry rides in the meta row: a probe hashing with a
        # different B would silently open the wrong partitions
        .withColumn("n_buckets", F.lit(int(num_buckets)))
        .write.mode("overwrite")
        .parquet(path + "/meta")
    )


def term_buckets(
    spark: SparkSession, terms: tuple[str, ...], num_buckets: int
) -> dict[str, int]:
    """Bucket ids for the query terms — the SAME xxhash64 the writer
    used, evaluated on a #terms-row literal frame (metadata, not data;
    there is no driver-side xxhash64 twin to drift from)."""
    tdf = spark.createDataFrame([(t,) for t in terms], "term string")
    return {
        r["term"]: r["b"]
        for r in tdf.select(
            "term",
            F.pmod(F.xxhash64("term"), F.lit(num_buckets))
            .cast("int")
            .alias("b"),
        ).collect()
    }


def bm25_topk_indexed(
    spark: SparkSession,
    path: str,
    terms: tuple[str, ...],
    k: int = 10,
) -> DataFrame:
    """BM25 top-k over a ``write_inverted_index`` layout. The probe is
    ``bucket IN (buckets of the query terms)`` — a PARTITION-column
    predicate, so the scan opens ≤ #terms of the B bucket directories
    (PartitionFilters pinned in tests/test_plans.py) and never touches
    the corpus text. Returns ``(doc_id, dl, tf_<t>..., score)`` for the
    k best documents containing at least one query term — the honest
    inverted-index contract: zero-match documents are not retrievable
    (the shared oracle restricts itself identically).

    Only candidate postings shuffle (by doc_id, to assemble per-doc tf
    vectors); df/meta reduce to ONE broadcast row. At 10^10 docs the
    probed volume is the posting lists of the query terms — independent
    of corpus width."""
    meta = spark.read.parquet(path + "/meta").collect()[0]  # one row
    buckets = sorted(
        set(term_buckets(spark, terms, int(meta["n_buckets"])).values())
    )
    post = (
        spark.read.parquet(path + "/postings")
        .filter(F.col("bucket").isin(buckets))
        .filter(F.col("term").isin(list(terms)))
    )
    dfs = post.groupBy().agg(
        *[
            F.count(F.when(F.col("term") == t, True))
            .cast("long")
            .alias(f"df_{t}")
            for t in terms
        ]
    )
    stats = dfs.select(
        "*",
        F.lit(int(meta["n_docs"])).cast("long").alias("n_docs"),
        F.lit(int(meta["sum_dl"])).cast("long").alias("sum_dl"),
    )
    cand = post.groupBy("doc_id").agg(
        F.max("dl").alias("dl"),
        *[
            F.coalesce(
                F.sum(F.when(F.col("term") == t, F.col("tf"))), F.lit(0)
            )
            .cast("long")
            .alias(f"tf_{t}")
            for t in terms
        ],
    )
    return (
        cand.crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "dl",
            *[f"tf_{t}" for t in terms],
            round4(bm25_score_expr(terms)).alias("score"),
        )
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(k)
    )
