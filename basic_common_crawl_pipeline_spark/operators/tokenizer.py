"""Distributed BPE tokenizer training + application (training-corpus
additions; the reference stops at extraction — /root/reference/Readme.md:24
— but token-level preparation is the step immediately downstream of every
crawl pipeline, and vocabulary induction is its canonical distributed
iterative job).

Classic Sennrich-style byte-pair encoding, trained the way every
production tokenizer trainer actually runs at corpus scale: NOT over the
raw token stream but over the **distinct-word frequency table** (the Zipf
collapse — a 100-TB corpus has ~10^8 distinct words, 5-6 orders smaller
than its occurrence count), with each word's symbol sequence evolving in
place and every pair count weighted by the word's corpus frequency.

Scale shape (100 TB):

- pass 0 is the word-frequency job — the ``text_vocab_topk`` plan:
  explode → map-side-combined hash aggregate; the only shuffle that ever
  touches per-occurrence data, and it carries one row per distinct word
  per partition, not per occurrence. The resulting word table is
  persisted once and is the ONLY distributed state the training loop
  touches.
- each merge round is (a) one tiny aggregation over the word table
  (adjacent-pair explode → weighted count, map-side combined, ~|alphabet|²
  candidate keys so the shuffle is bytes, not data) feeding a
  deterministic global top-1 (count desc, pair asc — total order, so the
  learned vocabulary is reproducible at any cluster size / partition
  count), then (b) a NARROW per-row array fold applying the merge
  greedily left-to-right — no shuffle, no Python, whole plan JVM-side.
  One driver action per round collecting exactly one row (the same
  cadence discipline as operators/graph.py's per-round convergence
  check).
- application (``bpe_segment_words``) never re-runs training: the final
  symbol table (word → pieces) is broadcast back over the corpus, so
  encoding the 100-TB corpus is one scan + a broadcast hash join on the
  (unique, skew-free) word key.

The greedy left-to-right single-pass merge is the standard BPE
application rule; the fold below implements it with a carry accumulator
(``prev`` = last uncommitted symbol), which handles the self-overlap case
exactly: merging pair (l,l) over "l l l" yields [ll, l], never [l, ll].
Everything stays in the cross-engine-exact integer/string domain, so the
DuckDB oracle (window-function islands — see plans/catalog.py) matches
hash-for-hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.textstats import word_tokens
from .spread import spread_input


def word_frequency_table(
    df: DataFrame, text_col: str = "text", lowercase: bool = True
) -> DataFrame:
    """The Zipf-collapsed training input: (word, freq) over the corpus.
    One explode + one map-side-combined hash aggregate; everything
    downstream of this runs on distinct words only. The tokenize runs at
    the scan's width — adaptively spread first (operators/spread.py)."""
    df = spread_input(df)
    toks = df.select(F.explode(word_tokens(text_col)).alias("__t")).filter(
        F.col("__t") != ""
    )
    word = F.lower("__t") if lowercase else F.col("__t")
    return toks.groupBy(word.alias("word")).agg(
        F.count("*").cast("long").alias("freq")
    )


def _chars(col) -> F.Column:
    """Symbol-sequence init: one single-character symbol per char.
    ``split(word, '')`` yields ['a','b','c'] in both Spark and DuckDB
    (ASCII corpora — TESTDATA.md pins documents text to pure ASCII, so
    char == byte)."""
    return F.split(col, "")


def _merge_fold(syms: F.Column, a: str, b: str) -> F.Column:
    """Greedy left-to-right single-pass merge of adjacent pair (a, b)
    into the symbol a||b — the standard BPE application rule, as one
    JVM array fold (no shuffle, no Python). The accumulator carries the
    last uncommitted symbol so a committed merge cannot chain into the
    next occurrence: (l,l) over [l,l,l] → [ll, l]."""
    merged = a + b
    init = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit("").alias("prev"),
        F.lit(False).alias("has_prev"),
    )

    def step(acc, s):
        hit = acc["has_prev"] & (acc["prev"] == a) & (s == b)
        out = F.when(
            hit, F.concat(acc["out"], F.array(F.lit(merged)))
        ).otherwise(
            F.when(
                acc["has_prev"], F.concat(acc["out"], F.array(acc["prev"]))
            ).otherwise(acc["out"])
        )
        return F.struct(
            out.alias("out"),
            F.when(hit, F.lit("")).otherwise(s).alias("prev"),
            (~hit).alias("has_prev"),
        )

    return F.aggregate(
        syms,
        init,
        step,
        lambda acc: F.when(
            acc["has_prev"], F.concat(acc["out"], F.array(acc["prev"]))
        ).otherwise(acc["out"]),
    )


def _merge_syms_py(syms: list[str], a: str, b: str) -> list[str]:
    """Driver-side twin of ``_merge_fold``: greedy left-to-right single
    pass with the carry accumulator — [l,l,l] under (l,l) → [ll, l]."""
    out: list[str] = []
    prev: str | None = None
    for s in syms:
        if prev is None:
            prev = s
        elif prev == a and s == b:
            out.append(a + b)
            prev = None
        else:
            out.append(prev)
            prev = s
    if prev is not None:
        out.append(prev)
    return out


def _bpe_train_local(
    rows: list, num_merges: int
) -> tuple[list[tuple[int, str, str, int]], list]:
    """The merge loop over a COLLECTED word table — identical semantics
    to the distributed rounds (pair counts weighted by word freq; top-1
    by (count desc, a asc, b asc) — Python str comparison is code-point
    order, which equals Spark's unsigned-UTF8-byte string order; greedy
    fold). Returns (merges, [(word, freq, syms), ...])."""
    table = [(r[0], int(r[1]), list(r[2])) for r in rows]
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, num_merges + 1):
        counts: dict[tuple[str, str], int] = {}
        for _w, freq, syms in table:
            for i in range(len(syms) - 1):
                pair = (syms[i], syms[i + 1])
                counts[pair] = counts.get(pair, 0) + freq
        if not counts:
            break
        (a, b), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((rank, a, b, cnt))
        table = [
            (w, freq, _merge_syms_py(syms, a, b)) for w, freq, syms in table
        ]
    return merges, table


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 6,
    driver_train_max_words: int = 100_000,
    *,
    cache: list,
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """Train ``num_merges`` BPE merge rules on the corpus. Returns
    ``(merges, words)`` where ``merges`` is the learned rule list
    ``[(rank, left, right, freq), ...]`` in application order (freq =
    the pair's weighted occurrence count when it was chosen) and
    ``words`` is the persisted word table with the FINAL symbol column
    ``syms`` — the broadcast-ready segmentation dictionary for
    ``bpe_segment_words``.

    The word table is persisted and RE-MATERIALIZED every round (each
    round's merge fold lands in the cached frame before the next
    round's pair count), so round r runs exactly ONE fold over cached
    arrays — without this, round r re-executes all r-1 prior folds
    from the raw corpus and the returned frame carries a k-deep nested
    interpreted expression (the CLAUDE.md iterative-lineage rule; total
    work would be O(k²) folds). At most two round frames are live at
    once — grandparents retire as soon as their child is materialized.
    Every persisted frame goes in ``cache``; the caller unpersists them
    once the result is read."""
    wf = (
        word_frequency_table(df, text_col)
        .withColumn("syms", _chars(F.col("word")))
        .persist()
    )
    cache.append(wf)

    # r6 (guide §1.2 step 1 — use problem knowledge the planner lacks):
    # the Zipf collapse makes the word table orders of magnitude smaller
    # than the corpus, and the merge rounds touch ONLY that table. When
    # it fits comfortably on the driver (≤ driver_train_max_words — a
    # bounded-metadata collect, the kmeans-summary discipline, ~10 MB at
    # the default), run the rounds locally: identical merges and final
    # symbol table by construction (pinned by a property test against
    # the distributed rounds), zero per-round Spark jobs. A 100 TB
    # corpus (~10^8 distinct words) exceeds the bound and takes the
    # distributed loop below unchanged.
    n_words = wf.count()
    if n_words <= driver_train_max_words:
        spark = df.sparkSession
        merges, table = _bpe_train_local(
            wf.select("word", "freq", "syms").collect(), num_merges
        )
        words = spark.createDataFrame(
            table, "word string, freq bigint, syms array<string>"
        ).persist()
        cache.append(words)
        return merges, words

    merges: list[tuple[int, str, str, int]] = []
    retire: DataFrame | None = None
    for rank in range(1, num_merges + 1):
        # adjacent pairs of the CURRENT symbol sequences, weighted by
        # word frequency; ~|alphabet + learned|² keys → tiny shuffle
        cur = wf.withColumn("__s", F.col("syms"))
        pairs = (
            cur.select(
                "freq",
                F.explode(
                    F.when(
                        F.size("__s") >= 2,
                        F.zip_with(
                            F.slice(F.col("__s"), 1, F.size("__s") - 1),
                            F.slice(F.col("__s"), 2, F.size("__s") - 1),
                            lambda x, y: F.struct(
                                x.alias("a"), y.alias("b")
                            ),
                        ),
                    ).otherwise(
                        F.array().cast(
                            "array<struct<a:string,b:string>>"
                        )
                    )
                ).alias("__p"),
            )
            .groupBy(F.col("__p.a").alias("a"), F.col("__p.b").alias("b"))
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "a", "b")
            .limit(1)
        )
        top = pairs.collect()  # one tiny row; materializes this round's wf
        if retire is not None:
            retire.unpersist()  # grandparent — child is now cache-resident
            retire = None
        if not top:
            break
        a, b, cnt = top[0]["a"], top[0]["b"], int(top[0]["cnt"])
        merges.append((rank, a, b, cnt))
        new_wf = wf.withColumn(
            "syms", _merge_fold(F.col("syms"), a, b)
        ).persist()
        cache.append(new_wf)
        retire, wf = wf, new_wf
    return merges, wf.select("word", "freq", "syms")


def bpe_segment_words(
    corpus: DataFrame,
    words: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lowercase: bool = True,
) -> DataFrame:
    """Apply a trained segmentation dictionary (``bpe_train``'s second
    return — word → final symbol sequence) to a corpus: one scan, one
    broadcast hash join on the unique word key, one per-doc aggregate.
    Returns one row per document: ``(id, n_words, n_pieces,
    max_word_pieces, n_oov)``.

    The join is LEFT: a word absent from the training dictionary (the
    application corpus need not be the training corpus) falls back to
    character segmentation — ``length(word)`` pieces, the exact
    untrained-BPE behavior — and counts into ``n_oov``. An inner join
    would silently drop OOV occurrences from every count and erase
    all-OOV documents from the output entirely."""
    corpus = spread_input(corpus, id_col)
    toks = corpus.select(
        F.col(id_col), F.explode(word_tokens(text_col)).alias("__t")
    ).filter(F.col("__t") != "")
    word = F.lower("__t") if lowercase else F.col("__t")
    dict_df = words.select(
        "word", F.size("syms").cast("long").alias("__np")
    )
    np = F.coalesce(F.col("__np"), F.length("word").cast("long"))
    return (
        toks.select(id_col, word.alias("word"))
        .join(F.broadcast(dict_df), "word", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum(np).cast("long").alias("n_pieces"),
            F.max(np).cast("long").alias("max_word_pieces"),
            F.count(F.when(F.col("__np").isNull(), True))
            .cast("long")
            .alias("n_oov"),
        )
    )


def bpe_vocab(words: DataFrame) -> list[str]:
    """The trained model's piece vocabulary: every symbol that appears
    in the final segmentation table, in lexicographic order. Piece id =
    list index. Bounded by |alphabet| + num_merges (each merge round
    introduces at most ONE new symbol), so the collect is a constant-
    size driver transfer regardless of corpus size — the same bounded-
    collect class as bpe_train's 1-row round aggregates. Lexicographic
    rather than merge-rank ids keeps the mapping derivable from the
    final word table alone (and therefore oracle-replayable without the
    training trace); the id assignment is a presentation choice, not a
    semantic one."""
    return [
        r["piece"]
        for r in words.select(F.explode("syms").alias("piece"))
        .distinct()
        .orderBy("piece")
        .collect()
    ]


def bpe_encode(
    corpus: DataFrame,
    words: DataFrame,
    vocab: list[str] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    lowercase: bool = True,
    unk_id: int = -1,
) -> DataFrame:
    """Encode a corpus to TOKEN IDS with a trained BPE model — the last
    mile between ``bpe_train`` and the packed-shard sink: real training
    pipelines pack ids, not counts. One corpus scan, two broadcast
    joins (word → piece sequence, piece → id), one per-doc aggregate.
    Returns one row per document: ``(id_col, n_pieces, ids_sum,
    ids_csv)`` — ids as a space-joined string in token order (the
    cross-engine-stable encoding; an array column is one
    ``F.split().cast()`` away for a consumer), plus the exact BIGINT id
    sum as a cheap checksum.

    OOV handling matches ``bpe_segment_words``: a word missing from the
    dictionary falls back to character pieces, and a PIECE missing from
    the vocabulary (an unseen character) encodes as ``unk_id``. Order
    reconstruction uses the in-group ``array_sort`` of (token position,
    piece position) structs — the line_dedup reassembly shape: no
    window, the only shuffle is the final groupBy on the unique doc
    id."""
    if vocab is None:
        vocab = bpe_vocab(words)
    corpus = spread_input(corpus, id_col)
    spark = corpus.sparkSession
    vocab_df = spark.createDataFrame(
        [(p, i) for i, p in enumerate(vocab)],
        "piece string, piece_id bigint",
    )
    toks = corpus.select(
        F.col(id_col),
        F.posexplode(word_tokens(text_col)).alias("__tp", "__t"),
    ).filter(F.col("__t") != "")
    word = F.lower("__t") if lowercase else F.col("__t")
    pieces = (
        toks.select(id_col, "__tp", word.alias("word"))
        .join(F.broadcast(words.select("word", "syms")), "word", "left")
        .select(
            id_col,
            "__tp",
            F.posexplode(
                F.coalesce(F.col("syms"), _chars(F.col("word")))
            ).alias("__pp", "piece"),
        )
    )
    pid = F.coalesce(F.col("piece_id"), F.lit(unk_id)).cast("long")
    return (
        pieces.join(F.broadcast(vocab_df), "piece", "left")
        .select(id_col, "__tp", "__pp", pid.alias("__pid"))
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_pieces"),
            F.sum("__pid").cast("long").alias("ids_sum"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("__tp"), F.col("__pp"), F.col("__pid")
                            )
                        )
                    ),
                    lambda x: x["__pid"].cast("string"),
                ),
                " ",
            ).alias("ids_csv"),
        )
    )
