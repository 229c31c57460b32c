"""Training-corpus preparation operators (north-rule additions; the
reference stops at extraction — /root/reference/Readme.md:24 names dedup
and downstream curation as explicitly out of scope). These are the three
curation steps every large-scale LLM-data pipeline runs between "clean
text" and "tokenized batches":

- ``decontaminate``: flag corpus documents that share word n-grams with
  an evaluation/benchmark set (the GPT-3 / Pile / Dolma 13-gram-overlap
  discipline, parameterized n). The benchmark side is DISTINCT n-gram
  hashes — small even for large eval suites (~10^6-10^7 grams) — so the
  membership test is a broadcast join against the exploded corpus grams:
  the 100-TB corpus never shuffles its text, only (doc_id, gram_hash)
  pairs flow, and the per-doc match count aggregates on doc_id (unique,
  skew-free).
- ``sample_rebalance``: per-stratum (language) rate sampling by a
  deterministic content hash — the distribution-rebalancing step. It is
  a PURE NARROW FILTER: no shuffle, no state, embarrassingly parallel at
  any scale, and reproducible across runs/cluster sizes because the coin
  is ``hash(doc_id) mod M`` rather than an RNG. (The quota/top-k-per-
  stratum alternative shape is operators/politeness.py's salted top-k.)
- ``pack_token_stream``: the GPT-style dataloader packing — concatenate
  all documents into one virtual token stream in a deterministic total
  order and cut it into fixed ``budget``-token training sequences. Each
  document's global start offset is an exact prefix sum, computed with
  the same two-phase scheme as operators/ordering.py: one range shuffle,
  per-partition token sums collected (≤ #partitions longs, never data),
  driver prefix scan, then a partition-local window adds the in-partition
  running sum. No single-partition window, no Arrow crossing — the whole
  plan stays in whole-stage codegen.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.textstats import word_ngrams, word_tokens
from .ordering import check_pid_layout
from .spread import spread_input


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_matches: int = 1,
) -> DataFrame:
    """Benchmark-overlap decontamination: count, per corpus document, how
    many of its word ``n``-gram occurrences (with multiplicity — no
    per-doc distinct pass) appear in the benchmark's DISTINCT n-gram set,
    and flag ``contaminated`` when ≥ ``min_matches``. Returns one row per
    corpus doc: (id, n_grams, n_matched, contaminated).

    Gram identity is md5 of the space-joined token window (exact DuckDB
    oracle; swap to xxhash64 in production). The benchmark set is
    broadcast — eval suites are tiny next to a training corpus — so the
    corpus is ONE scan: explode_outer (gram-less docs keep their row) →
    broadcast LEFT join → groupBy the unique doc id. Both counts fall
    out of the same pass (``__h`` non-null = a gram occurrence, the
    bench side's ``__gh`` non-null = a match), the hash-aggregate
    partially combines map-side before the doc-id shuffle (explode
    preserves row locality), and the corpus text never shuffles.
    Measured 3× faster than the two-scan + post-join variant at sf0.1."""
    # Adaptive spread (operators/spread.py): the n-gram+md5 projection is
    # the per-row-heavy part on both sides and otherwise runs at a
    # 1-split scan's width. Corpus keyed by id (the groupBy below reuses
    # the partitioning); the benchmark side has no id contract.
    corpus = spread_input(corpus, id_col)
    benchmark = spread_input(benchmark)
    grams = word_ngrams(text_col, n)
    bench = (
        benchmark.select(F.explode(grams).alias("__g"))
        .select(F.md5("__g").alias("__gh"))
        .distinct()
    )
    exploded = corpus.select(
        F.col(id_col), F.explode_outer(grams).alias("__g")
    ).select(id_col, F.md5("__g").alias("__h"))
    marked = exploded.join(
        F.broadcast(bench), exploded["__h"] == bench["__gh"], "left"
    )
    return (
        marked.groupBy(id_col)
        .agg(
            F.count("__h").cast("int").alias("n_grams"),
            F.count("__gh").cast("long").alias("n_matched"),
        )
        .withColumn("contaminated", F.col("n_matched") >= min_matches)
    )


# The deterministic sampling coin: a 60-bit integer from the md5 of the
# stringified id (DuckDB: ('0x'||substr(md5(x),1,15))::BIGINT — identical
# in both engines, same construction as operators/dedup.py::_hash64_expr).
def _coin(col) -> F.Column:
    return F.conv(
        F.substring(F.md5(F.col(col).cast("string")), 1, 15), 16, 10
    ).cast("long")


def sample_rebalance(
    df: DataFrame,
    rates: dict[str, float],
    id_col: str = "doc_id",
    stratum_col: str = "lang",
    default_rate: float = 0.0,
    modulus: int = 10_000,
) -> DataFrame:
    """Per-stratum deterministic rate sampling: keep a row iff
    ``hash(id) mod modulus < rate[stratum] * modulus``. Rates are exact
    at ``1/modulus`` granularity (rate*modulus must be integral to avoid
    float-boundary ambiguity). Returns the kept rows unchanged.

    This is the language-distribution rebalancing step of a training
    pipeline, expressed as a single codegen'd filter over the scan —
    zero shuffles, reproducible across any cluster size, and each
    stratum's kept set is a superset of any lower rate's (nested
    samples: lowering a rate only removes rows)."""
    thresholds = {s: int(round(r * modulus)) for s, r in rates.items()}
    thr = F.lit(int(round(default_rate * modulus)))
    for stratum, t in sorted(thresholds.items()):
        thr = F.when(F.col(stratum_col) == stratum, F.lit(t)).otherwise(thr)
    return df.filter((_coin(id_col) % modulus) < thr)


def pack_token_stream(
    df: DataFrame,
    order_cols: list[str],
    token_col: str = "n_tok",
    budget: int = 512,
    *,
    cache: list,
) -> DataFrame:
    """Sequence packing: lay every document end-to-end in the total order
    of ``order_cols`` and cut the stream into ``budget``-token training
    sequences. Adds three columns: ``start_off`` (the doc's global token
    offset, an exact prefix sum), ``pack_id`` (= start_off // budget, the
    training sequence its first token lands in) and ``straddles`` (true
    when the doc crosses a sequence boundary and will be split by the
    loader). ``order_cols`` must be a total key; ``token_col`` must be a
    non-negative integral column.

    The exact prefix sum is ``keyed_prefix_sum`` with an EMPTY key list
    (one global stream) — see its docstring for the two-phase shape and
    its hazards; this function only adds the pack/straddle projection.
    The prefix sum's persist goes in ``cache``; the caller unpersists it
    once the result is read."""
    summed = keyed_prefix_sum(
        df, [], order_cols, token_col, out_col="start_off", cache=cache
    )
    tok = F.col(token_col).cast("long")
    return summed.withColumn(
        "pack_id", F.floor(F.col("start_off") / F.lit(budget)).cast("long")
    ).withColumn(
        "straddles",
        (tok > 0)
        & (
            F.floor((F.col("start_off") + tok - 1) / F.lit(budget))
            != F.col("pack_id")
        ),
    )


def keyed_prefix_sum(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    value_col: str,
    out_col: str = "cum_before",
    *,
    cache: list,
) -> DataFrame:
    """Exact per-key running sum (Σ value over all earlier rows of the
    SAME key in the total order of ``order_cols``) for FEW, FAT keys —
    the case where ``Window.partitionBy(key)`` is the hot-key hazard: a
    corpus with 20 sources and 10^10 docs would serialize each source
    through one task. Generalizes ``pack_token_stream``'s two-phase
    shape from one global stream to a keyed one:

    1. EXPLICIT-count range repartition on (key, order) — AQE-exempt,
       so ``spark_partition_id()`` is stable across executions
       (CLAUDE.md round-4 asof lesson), and a fat key spans MANY
       consecutive partitions;
    2. ONE single-scan groupBy(__pid, key) summary (≤ #partitions ×
       #keys tiny rows — never data) collected to the driver;
    3. per-key prefix scan over pid order there, then a
       partition-LOCAL window (bounded by partition size, not key
       frequency) plus a broadcast join of the per-(pid, key) bases.

    ``order_cols`` must be total within a key; ``key_cols`` may be
    EMPTY (one global stream — ``pack_token_stream`` is exactly that
    plus a projection) and key values may be NULL (the base join is
    null-safe, so NULL-key rows form their own partition exactly like
    the per-key-window alternative would treat them). The partitioned
    frame is persisted internally (two consumers: the summary and the
    output) into ``cache``; the caller unpersists it once the result is
    read. For high-cardinality
    keys use a plain keyed window instead — no single key is hot
    there."""
    spark = df.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    # The persist is LOAD-BEARING, not an optimization: __pid must be
    # identical in the summary execution and the output execution, and
    # the default MEMORY_AND_DISK level guarantees that by SPILLING
    # instead of evicting-to-recompute (a recompute re-runs the range
    # sampler and can renumber partitions). Weakening this to a
    # MEMORY_ONLY level would make misnumbering silent — which is why
    # check_pid_layout() below fails loudly on any layout drift.
    parted = (
        df.repartitionByRange(n_parts, *key_cols, *order_cols)
        .withColumn("__pid", F.spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK_DESER)
    )
    cache.append(parted)

    stats = parted.groupBy("__pid", *key_cols).agg(
        F.sum(F.col(value_col).cast("long")).alias("__v")
    )
    rows = stats.collect()
    check_pid_layout(parted, n_parts, [r["__pid"] for r in rows])
    acc: dict[tuple, int] = {}
    bases = []
    for row in sorted(
        rows, key=lambda r: (r["__pid"],)
    ):
        k = tuple(row[c] for c in key_cols)
        bases.append((row["__pid"], *k, acc.get(k, 0)))
        acc[k] = acc.get(k, 0) + int(row["__v"] or 0)
    dtypes = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    fields = ["__pid int"] + [f"{c} {dtypes[c]}" for c in key_cols]
    base_df = spark.createDataFrame(
        bases, ", ".join(fields + ["__base long"])
    )

    local = (
        Window.partitionBy("__pid", *key_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # NULL-SAFE join on the key columns: a (pid, NULL-key) group exists
    # in base_df, and plain `=` would silently drop every NULL-key row
    # from the output (NULL = NULL is not true).
    p, b = parted.alias("__p"), F.broadcast(base_df).alias("__b")
    cond = F.col("__p.__pid") == F.col("__b.__pid")
    for c in key_cols:
        cond = cond & F.col(f"__p.{c}").eqNullSafe(F.col(f"__b.{c}"))
    return (
        p.join(b, cond)
        .select("__p.*", F.col("__b.__base"))
        .withColumn(
            out_col,
            (
                F.col("__base")
                + F.coalesce(
                    F.sum(F.col(value_col).cast("long")).over(local),
                    F.lit(0),
                )
            ).cast("long"),
        )
        .drop("__pid", "__base")
    )


def token_budget_sample(
    df: DataFrame,
    budgets: dict[str, int],
    default_budget: int = 0,
    source_col: str = "source",
    id_col: str = "doc_id",
    token_col: str = "n_tok",
    *,
    cache: list,
) -> DataFrame:
    """Token-budget source sampling — the Dolma/Pile mixing step that
    ``source_mix_stats`` computes weights FOR: from each source, take
    documents in the deterministic hash-coin order until the source's
    token budget is filled. A document is kept iff the tokens consumed
    BEFORE it (within its source, in coin order) are still under the
    budget — the greedy prefix rule, so the last kept doc may overshoot
    and the selection is reproducible at any cluster size (the coin is
    content-derived, no RNG, same construction as ``sample_rebalance``).

    Returns every input row with ``__coin``-ordered ``cum_before`` and
    the ``kept`` flag (filter on ``kept`` to materialize the sample).
    The per-source running sum is ``keyed_prefix_sum`` — no per-source
    window, so 20 sources × 10^10 docs never serializes. Its persist goes
    in ``cache``; the caller unpersists it once the result is read."""
    with_coin = df.withColumn("__coin", _coin(id_col))
    summed = keyed_prefix_sum(
        with_coin,
        key_cols=[source_col],
        order_cols=["__coin", id_col],
        value_col=token_col,
        cache=cache,
    )
    budget = F.lit(default_budget)
    for s, b in sorted(budgets.items()):
        budget = F.when(F.col(source_col) == s, F.lit(b)).otherwise(budget)
    return summed.withColumn(
        "kept", F.col("cum_before") < budget
    ).drop("__coin")


def unigram_lm_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int = 4096,
) -> DataFrame:
    """CCNet-style corpus-statistics quality scoring with INTEGER-exact
    semantics: build the top-``vocab_size`` unigram vocabulary from the
    corpus itself (count desc, token asc — deterministic at the
    boundary), then score every document against it. Returns one row per
    doc: ``(id, n_tok, n_oov, sum_freq, oov_ratio)`` where ``n_oov``
    counts tokens outside the vocabulary, ``sum_freq`` is the exact
    BIGINT sum of the global frequencies of the in-vocab tokens (the
    monotone stand-in for Σ log p(tok) — higher = more stereotypical
    text), and ``oov_ratio = n_oov / n_tok`` (round4). CCNet ranks by LM
    perplexity; a float log-prob would be engine-divergent at the ulp,
    so the score domain here is integers + one exact ratio.

    Scale shape (100 TB): pass 1 is the vocab-counting job (explode →
    map-side-combined hash aggregate → TakeOrderedAndProject, the
    text_vocab_topk plan); the resulting Zipf head is tiny and is
    BROADCAST into pass 2, so the corpus is scanned twice but never
    shuffles its text — only (doc_id, tok) pairs flow into the per-doc
    aggregate on the unique id (skew-free). Same two-pass
    corpus-statistic shape as ``decontaminate``, with the reference set
    derived from the corpus itself instead of a benchmark."""
    df = spread_input(df, id_col)
    toks = (
        df.select(
            F.col(id_col), F.explode(word_tokens(text_col)).alias("__t")
        )
        .filter(F.col("__t") != "")
        .select(id_col, F.lower("__t").alias("__tok"))
    )
    vocab = (
        toks.groupBy("__tok")
        .agg(F.count("*").alias("__freq"))
        .orderBy(F.col("__freq").desc(), "__tok")
        .limit(vocab_size)
    )
    joined = toks.join(F.broadcast(vocab), "__tok", "left")
    agg = joined.groupBy(id_col).agg(
        F.count("*").alias("n_tok"),
        F.count(F.when(F.col("__freq").isNull(), True)).alias("n_oov"),
        F.coalesce(F.sum("__freq"), F.lit(0)).cast("long").alias("sum_freq"),
    )
    from ..functions.numeric import round4

    return agg.withColumn(
        "oov_ratio",
        round4(F.col("n_oov") / F.greatest(F.col("n_tok"), F.lit(1))),
    )


def write_packed_shards(
    packed: DataFrame,
    path: str,
    budget: int = 512,
    seqs_per_shard: int = 1024,
) -> DataFrame:
    """Materialize a packed corpus (the output of ``pack_token_stream``)
    as the on-disk training artifact: parquet partitioned by
    ``shard_id = pack_id // seqs_per_shard``, so one shard directory
    holds exactly ``seqs_per_shard`` consecutive training sequences
    (≈ ``budget * seqs_per_shard`` tokens) and a dataloader pulls shard
    k with PARTITION PRUNING — no full-corpus scan, the same
    physical-layout story as the ANN partition-pruned index. Rows carry
    ``start_off``, so in-shard stream order is one cheap bounded sort on
    read (shards are written task-parallel; a global write-side sort
    would serialize the sink for an ordering the reader re-derives in
    O(shard) anyway). Documents straddling a shard boundary land in the
    shard their FIRST token falls in (same rule as ``pack_id`` itself).
    Returns the reloaded DataFrame.
    """
    spark = packed.sparkSession
    with_shard = packed.withColumn(
        "shard_id",
        F.floor(F.col("pack_id") / F.lit(seqs_per_shard)).cast("long"),
    )
    (
        with_shard.write.mode("overwrite")
        .partitionBy("shard_id")
        .parquet(path)
    )
    return spark.read.parquet(path)


def source_mix_stats(
    df: DataFrame,
    source_col: str = "source",
    token_col: str = "n_tok",
) -> DataFrame:
    """Data-mixing statistics (the Dolma/Pile source-weighting step):
    per source, document count, exact BIGINT token mass, its round4
    share of the corpus, and the uniform-target resampling weight
    ``round4((total/n_sources) / source_tokens)`` — the multiplier that
    would equalize token mass across sources. One hash-aggregate to
    #sources rows, then the (tiny) totals broadcast back — corpus
    scanned once, text never moves."""
    per_source = df.groupBy(source_col).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col(token_col).cast("long")).alias("n_tok"),
    )
    totals = per_source.agg(
        F.sum("n_tok").alias("__tot"),
        F.count("*").alias("__ns"),
    )
    from ..functions.numeric import round4

    return (
        per_source.crossJoin(F.broadcast(totals))
        .select(
            source_col,
            "n_docs",
            "n_tok",
            round4(F.col("n_tok") / F.col("__tot")).alias("tok_share"),
            round4(
                (F.col("__tot") / F.col("__ns")) / F.col("n_tok")
            ).alias("mix_weight"),
        )
    )


def nb_quality_classifier(
    corpus: DataFrame,
    labels: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "label",
    vocab_size: int = 4096,
) -> DataFrame:
    """Trained quality classifier — the GPT-3/CCNet discipline of fitting
    a cheap linear text classifier on a SEED labeling (curated positives
    vs crawl negatives) and applying it to the whole corpus. ``labels``
    is the training subset: one row per labeled doc, ``label_col`` ∈
    {0,1}. Scores every corpus document and returns one row per doc:
    ``(id, n_tok, n_hits, score_int, predict)``.

    The per-token weight is the smoothed class-posterior odds, kept in
    the repo's INTEGER-exact score domain (the ``unigram_lm_score``
    rule: a float log-likelihood would be engine-divergent at the ulp):
    ``w(tok) = floor(10^4·(c1+1)/(c1+c0+2) + 0.5) − 5000`` where c1/c0
    are the token's occurrence counts in positive/negative training
    docs — an integer in [−5000, 5000], positive iff the token skews
    positive. ``score_int`` is the exact BIGINT sum over the document's
    token occurrences (order-independent), ``predict = score_int > 0``.
    Swap the weight formula for true log-likelihood ratios in
    production, where cross-engine bit-equality is not a constraint.

    Scale shape (100 TB): training tokens join the (small) label table
    on the unique doc id, count-aggregate by token with map-side
    combine, and the top-``vocab_size`` weight table (count desc, token
    asc — deterministic at the boundary) is TakeOrdered'd and BROADCAST
    into the scoring pass — the corpus text never shuffles; only
    (doc_id, token) pairs flow into the per-doc aggregate on the unique
    id. No driver-side scalars anywhere: the weight needs only the
    token's own counts, so the whole fit is one aggregation."""
    corpus = spread_input(corpus, id_col)

    def toks(df: DataFrame) -> DataFrame:
        return (
            df.select(
                F.col(id_col), F.explode(word_tokens(text_col)).alias("__t")
            )
            .filter(F.col("__t") != "")
            .select(id_col, F.lower("__t").alias("__tok"))
        )

    corpus_toks = toks(corpus)
    train_toks = corpus_toks.join(
        labels.select(id_col, F.col(label_col).alias("__y")), id_col
    )
    weights = (
        train_toks.groupBy("__tok")
        .agg(
            F.sum("__y").alias("__c1"),
            F.sum(F.lit(1) - F.col("__y")).alias("__c0"),
        )
        .orderBy((F.col("__c1") + F.col("__c0")).desc(), "__tok")
        .limit(vocab_size)
        .select(
            "__tok",
            (
                F.floor(
                    F.lit(10_000)
                    * (F.col("__c1") + 1)
                    / (F.col("__c1") + F.col("__c0") + 2)
                    + F.lit(0.5)
                ).cast("long")
                - 5_000
            ).alias("__w"),
        )
    )
    return (
        corpus_toks.join(F.broadcast(weights), "__tok", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tok"),
            F.count(F.when(F.col("__w").isNotNull(), True)).alias("n_hits"),
            F.coalesce(F.sum("__w"), F.lit(0)).cast("long").alias("score_int"),
        )
        .withColumn("predict", (F.col("score_int") > 0).cast("long"))
    )


def pack_token_ids(
    encoded: DataFrame,
    order_cols: list[str],
    ids_col: str = "ids_csv",
    budget: int = 512,
    *,
    cache: list,
) -> DataFrame:
    """Materialize the ACTUAL training sequences: given encoded
    documents (``tokenizer.bpe_encode``'s output — token ids as a
    space-joined string per doc), lay every id end-to-end in the total
    order of ``order_cols`` and emit one row per ``budget``-token
    sequence: ``(pack_id, n_ids, ids_csv)`` — the artifact a GPT-style
    dataloader reads, with documents crossing sequence boundaries
    exactly as ``pack_token_stream``'s offsets dictate (the final
    partial sequence is kept, documented short).

    Scale shape: exact global offsets come from the two-phase prefix
    sum over PER-DOC counts (driver sees ≤ #partitions summary rows,
    never tokens); the only per-TOKEN work is one narrow posexplode
    projecting ``(global position, id)`` and ONE shuffle into the
    per-sequence groupBy — which is unavoidable and linear: every token
    must reach its sequence exactly once, the same volume the shard
    writer ships anyway. In-sequence order reassembles with the
    array_sort-of-structs idiom (no window). The prefix sum's persist
    goes in ``cache``; the caller unpersists it once the result is
    read."""
    # an EMPTY ids string is zero tokens, not one: F.split('', ' ')
    # yields [''] (size 1), which would shift every later document's
    # global offset and leak a bogus '' id into some sequence
    n_ids = F.when(F.col(ids_col) == "", F.lit(0)).otherwise(
        F.size(F.split(F.col(ids_col), " "))
    ).cast("long")
    with_n = encoded.withColumn("__n", n_ids)
    summed = keyed_prefix_sum(
        with_n, [], order_cols, "__n", out_col="__off", cache=cache
    )
    tokens = summed.filter(F.col(ids_col) != "").select(
        F.col("__off"),
        F.posexplode(F.split(F.col(ids_col), " ")).alias("__i", "__id"),
    ).select(
        (F.col("__off") + F.col("__i")).alias("__pos"),
        F.col("__id"),
    )
    return (
        tokens.groupBy(
            F.floor(F.col("__pos") / F.lit(budget)).cast("long").alias(
                "pack_id"
            )
        )
        .agg(
            F.count("*").cast("long").alias("n_ids"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(F.col("__pos"), F.col("__id"))
                        )
                    ),
                    lambda x: x["__id"],
                ),
                " ",
            ).alias("ids_csv"),
        )
    )
