"""One frontier-expansion wave as a single declarative DataFrame job
(SURVEY.md §7 Step 3; semantics in plans/config.py).

Spark-first restructuring of the reference's two processes
(batcher: rust/src/bin/batcher.rs:54-107, worker: rust/src/bin/worker.rs:21-85):
the queue boundary becomes the shuffle, the per-entry HTTP loop becomes a
partitioned join against the pages table, and the trafilatura FFI
(rust/src/trafilatura.rs:26-58, one GIL crossing per record) becomes one
Arrow-vectorized ``mapInPandas`` over html batches.

Scale notes (100 TB design point):
- the index join (step 3) reads ONLY (url, status, lang) — column pruning
  keeps the scan off the fat ``html`` column; the html join (step 7)
  happens *after* politeness cut the wave to ≤ Σ host budgets rows, the
  exact filter-before-fetch ordering the reference uses
  (rust/src/bin/batcher.rs:88-95, SURVEY.md §4);
- robots is a broadcast join (small dim);
- politeness is the salted two-phase top-k (operators/politeness.py);
- crawl order is the two-phase range-partitioned sequencer
  (operators/ordering.py) — no single-partition windows;
- all Python is Arrow-batched (pandas_udf / mapInPandas), never per-row.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions.cdx import eligible
from ..functions.links import extract_links_rich
from ..functions.urls import canon_host_surt
from ..operators.ordering import global_seq_assign, global_seq_sorted
from ..operators.politeness import rank_per_host_topk
from .config import CrawlConfig

_LINK_STRUCT = StructType(
    [
        StructField("url", StringType()),
        StructField("l_host", StringType()),
        StructField("l_surt", StringType()),
    ]
)

_EXTRACT_SCHEMA = StructType(
    [
        StructField("canon_url", StringType()),
        StructField("text", StringType()),
        StructField("links", ArrayType(_LINK_STRUCT)),
        # bytes fetched per page (M1 downloaded_bytes analog,
        # rust/src/commoncrawl.rs:9-15,55) — costs nothing to carry here
        StructField("html_bytes", LongType()),
    ]
)


def _extract_batches(
    batches: Iterator[pd.DataFrame],
    through_cols: tuple[str, ...] = (),
    extractor: str = "rust",
) -> Iterator[pd.DataFrame]:
    """html → (text, out-links with host+surt); the single hot-path Python
    crossing per wave. Uses the same scalar core as the oracle →
    byte-identity by construction (BASELINE.json per-row invariant).
    host/surt are computed here rather than in a second pandas stage —
    one Arrow crossing instead of two.

    ``through_cols`` ride along unchanged (a few small per-row values
    through Arrow): carrying host/priority THROUGH the extract instead of
    re-joining extracted back to ``selected`` removes a whole exchange of
    the text-fat extracted rows per wave — the same through-column rule
    the WARC fetch path uses (sources/warc.py)."""
    from ..functions.extract import EXTRACTORS
    from ..functions.links import extract_page

    extract_fn = EXTRACTORS[extractor]
    # extract_page gives THIS extractor's text and the links from one
    # parse; "go" text comes from its own parse, its links from the same
    # one-parse view (functions/extract.py::_scan_page)
    fused = extractor == "rust"
    for batch in batches:
        texts, links, nbytes = [], [], []
        # .tolist() first: iterating a pandas object Series pays per-item
        # accessor overhead in this hot loop
        for url, html in zip(
            batch["canon_url"].tolist(), batch["html"].tolist()
        ):
            if fused:
                text, rich = extract_page(html, url)
            else:
                text, rich = extract_fn(html), extract_links_rich(html, url)
            texts.append(text)
            links.append(
                [{"url": c, "l_host": h, "l_surt": s} for c, h, s in rich]
            )
            nbytes.append(len(html) if html is not None else 0)
        out = {"canon_url": batch["canon_url"]}
        for c in through_cols:
            out[c] = batch[c]
        out.update({"text": texts, "links": links, "html_bytes": nbytes})
        yield pd.DataFrame(out)


_FRONTIER_SCHEMA = StructType(
    [
        StructField("canon_url", StringType()),
        StructField("host", StringType()),
        StructField("surt", StringType()),
        StructField("priority", IntegerType()),
    ]
)


def _canonize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    # one Arrow crossing AND one urlsplit for canon+host+surt (the fused
    # scalar core; the composed canonicalize/host_of/surt parse 4× per URL)
    for batch in batches:
        fused = batch["url"].map(canon_host_surt)
        canon = fused.map(lambda t: t[0])
        keep = canon.notna()
        yield pd.DataFrame(
            {
                "canon_url": canon[keep],
                "host": fused[keep].map(lambda t: t[1]),
                "surt": fused[keep].map(lambda t: t[2]),
                # null priority arrives as NaN (float64); default to 0 like
                # the oracle's s.get("priority", 0) instead of raising
                "priority": batch["priority"][keep].fillna(0).astype("int32"),
            }
        )


def frontier_from_seeds(seeds: DataFrame) -> DataFrame:
    """Seed URLs → canonical frontier rows (canon_url, host, surt, priority).

    The repartition before the canonize stage matters: seed lists often
    arrive as one file / one in-memory partition, which would run the
    Python canonicalization serially no matter how many cores exist —
    hash-distributing the (tiny) url strings first makes the first wave's
    frontier build parallel. The partition count is EXPLICIT: a bare
    ``repartition(col)`` is AQE-coalesced back to one partition (seed
    lists are a few MB — far under the 64 MB advisory size), which
    re-serializes the Python stage; measured at 83k seeds that single
    task costs ~5 s, ~25% of a 3-wave crawl's wall. An explicit
    numPartitions is exempt from AQE coalescing, so the stage stays as
    wide as the cluster."""
    return (
        seeds.select("url", F.col("priority").cast("int").alias("priority"))
        .repartition(seeds.sparkSession.sparkContext.defaultParallelism, F.col("url"))
        .mapInPandas(_canonize_batches, schema=_FRONTIER_SCHEMA)
        .groupBy("canon_url")
        .agg(
            F.min("host").alias("host"),
            F.min("surt").alias("surt"),
            F.min("priority").cast("int").alias("priority"),
        )
        .select("canon_url", "host", "surt", "priority")
    )


# waves of at most this many frontier rows (the count the caller already
# holds) skip the politeness salt phase and sort crawl order in one task
SMALL_WAVE_ROWS = 100_000


def empty_seen(spark: SparkSession) -> DataFrame:
    """The seen set of a fresh crawl, as a relation Catalyst can prove
    empty (an empty ``LocalRelation`` once optimized): every anti-join
    and union against it is deleted at planning time, and it runs no
    Python task. (A list-built ``createDataFrame([])`` would be a
    ``PythonRDD`` over ``defaultParallelism`` partitions: a Python stage
    in each seen exchange that reads it.)"""
    return spark.range(1).select(
        F.lit(None).cast("string").alias("canon_url")
    ).limit(0)


@dataclass
class WaveOutput:
    crawl_order: DataFrame   # seq, wave, url, host, priority
    results: DataFrame       # wave, canon_url, host, priority, text
    new_frontier: DataFrame  # canon_url, host, surt, priority
    processed: DataFrame     # canon_url — urls newly marked seen this wave
    metrics: dict
    # the wave's .persist()ed intermediates — the caller unpersists them
    # once downstream state is committed/checkpointed, so long crawls don't
    # accumulate dead cache entries in the executors' block managers
    cached: tuple = ()


def run_wave(
    spark: SparkSession,
    frontier: DataFrame,
    seen: DataFrame,
    pages: DataFrame,
    robots: DataFrame,
    wave: int,
    config: CrawlConfig = CrawlConfig(),
    next_seq: int = 1,
    *,
    frontier_count: int,
) -> WaveOutput:
    """Expand ``frontier`` by one wave (semantics: plans/config.py).

    PRECONDITION: ``frontier`` and ``seen`` are disjoint. ``run_crawl``
    guarantees it: wave 0 of a fresh run pairs the seed frontier with
    ``empty_seen``; every later wave, and a resume (both tables read
    from one committed snapshot), pairs the previous wave's
    ``new_frontier`` with its seen set, and step 9 builds that frontier
    disjoint from ``seen ∪ processed``. Direct callers pass
    ``empty_seen`` or a previous wave's outputs the same way.

    ``frontier_count`` is the frontier's row count, which the caller
    already holds; it alone picks the plan (at most ``SMALL_WAVE_ROWS``
    rows: no politeness salt, a one-task crawl-order sort). Inside its
    one action the wave checks that it classified each frontier row
    exactly once (a URL with two pages rows or a host with two robots
    rows makes the left joins emit extra candidates); if not, it
    releases its caches and raises ``ValueError`` before returning
    anything to commit."""
    # 1. candidates = frontier: frontier ∩ seen = ∅ by the precondition,
    #    so the wave tests seen membership only at discovery (step 9)
    cand = frontier

    # 2. robots gate — broadcast join on host (J3)
    policy = F.broadcast(
        robots.select(
            "host",
            F.col("crawl_delay").alias("__delay"),
            F.col("disallow").alias("__disallow"),
        )
    )
    cand = (
        cand.join(policy, "host", "left")
        .withColumn("__delay", F.coalesce("__delay", F.lit(config.default_crawl_delay)))
        .withColumn("__path", F.parse_url("canon_url", F.lit("PATH")))
        .withColumn(
            "__disallowed",
            F.exists(
                F.coalesce("__disallow", F.array().cast("array<string>")),
                lambda d: F.col("__path").startswith(d),
            ),
        )
    )

    # 3. index lookup (J1 metadata side): scan reads ONLY url/status/lang.
    #    shuffle_hash, not sort-merge: builds the hash map on the frontier
    #    side and streams pages without sorting them — pages cached or
    #    bucketed hash-partitioned by url reuse their partitioning (no
    #    exchange on the pages side; pinned in tests/test_plans.py).
    index = pages.select(
        F.col("url").alias("canon_url"),
        F.col("status").alias("__status"),
        F.col("lang").alias("__lang"),
    )
    cand = cand.hint("shuffle_hash").join(index, "canon_url", "left")

    # 4. classify: disallowed / miss / ineligible / eligible (F1-F3)
    cand = cand.withColumn(
        "__class",
        F.when(F.col("__disallowed"), F.lit("disallowed"))
        .when(F.col("__status").isNull(), F.lit("miss"))
        .when(eligible("__status", "__lang", config.language),
              F.lit("eligible"))
        .otherwise(F.lit("ineligible")),
    ).persist()

    # 5. politeness: budget = max(1, floor(wave_seconds / crawl_delay))
    eligible_rows = cand.filter(F.col("__class") == "eligible").withColumn(
        "budget",
        F.greatest(F.lit(1), F.floor(F.lit(config.wave_seconds) / F.col("__delay"))),
    )
    # small waves skip the salt phase (one shuffle+sort stage less): the
    # salting exists to break mega-host hot keys, which a wave of at most
    # SMALL_WAVE_ROWS frontier rows cannot contain. Identical output
    # either way (top-k is distributive; asserted by the politeness tests).
    # One ranking pass yields selected AND deferred — no anti-join
    # (select-then-subtract would shuffle eligible+selected again).
    small_wave = frontier_count <= SMALL_WAVE_ROWS
    salt = 1 if small_wave else config.salt_partitions
    ranked = rank_per_host_topk(
        eligible_rows,
        salt_partitions=salt,
    ).select("canon_url", "host", "surt", "priority", "__selected").persist()
    selected = ranked.filter(F.col("__selected")).drop("__selected")
    deferred = ranked.filter(~F.col("__selected")).drop("__selected")

    # 6. crawl order, phase 1: range-partition + sort on the total
    #    ORDER_KEY. The offsets counts are folded into the wave's SINGLE
    #    driver action below (no dedicated collect); the sorted pass is
    #    cached so committing crawl_order doesn't re-run the sort.
    #    Small waves sort in one task (like the salt skip): selected is
    #    ≤ Σ budgets ≤ frontier rows ≤ SMALL_WAVE_ROWS, and range
    #    partitioning would pay a sampling pass a small sort doesn't need.
    seq_cache: list = []
    sorted_sel = global_seq_sorted(
        selected.withColumn("wave", F.lit(wave)),
        order_cols=["priority", "surt", "canon_url"],
        cache=seq_cache,
        single_partition=small_wave,
    )

    # 7. fetch + extract (J1 content side): html joined ONLY for selected,
    #    the same shuffle_hash left join as step 3 — only the selected side
    #    exchanges, so over url-partitioned pages the fat html column never
    #    shuffles (selected ⊆ index hits, so left ≡ inner here; pinned in
    #    tests/test_plans.py). host/surt/priority ride THROUGH the fetch
    #    join and the Arrow extract stage: the alternative — extract then
    #    re-join back to selected — exchanges the text-fat extracted rows
    #    a second time every wave (mapInPandas output partitioning is
    #    unknown to the planner, so that join re-shuffles BOTH sides).
    from functools import partial

    through = ("host", "surt", "priority")
    pages_html = pages.select(F.col("url").alias("canon_url"), "html")
    fetched = selected.hint("shuffle_hash").join(pages_html, "canon_url", "left")
    extract_schema = StructType(
        [_EXTRACT_SCHEMA[0]]
        + [selected.schema[c] for c in through]
        + list(_EXTRACT_SCHEMA[1:])
    )
    extracted = (
        fetched.select("canon_url", *through, "html")
        .mapInPandas(
            partial(
                _extract_batches,
                through_cols=through,
                extractor=config.extractor,
            ),
            schema=extract_schema,
        )
        .persist()
    )
    # per-partition lineage (north_rule M4): which physical partition
    # produced each row, alongside its wave — written with every snapshot
    results = extracted.filter(F.col("text").isNotNull()).select(
        F.lit(wave).alias("wave"),
        "canon_url",
        "host",
        "priority",
        "text",
        F.spark_partition_id().alias("partition_id"),
    )

    # 8. seen' = seen ∪ processed (everything but deferred)
    # candidates are unique by canon_url (checked after the action below)
    # and disjoint from seen (the precondition), so the union needs NO
    # distinct — skipping it saves a full-seen-set shuffle every wave.
    # persist() here, localCheckpoint AFTER the wave's action (below):
    # a lazy localCheckpoint leaf materializes as its OWN SQL execution
    # the moment a downstream action is planned — with two such leaves
    # the "one action" wave was really three serial executions, each
    # paying AQE replanning and sub-job boundaries. Persisting instead
    # lets the single tags job below materialize everything in ONE
    # execution; the checkpoint (still needed: without a plan leaf the
    # next wave's seen plan nests this wave's whole plan, compounding
    # until the driver chokes on plan strings) is then taken FROM the
    # hot cache, a cheap block copy.
    processed = cand.filter(F.col("__class") != "eligible").select(
        "canon_url"
    ).unionByName(selected.select("canon_url")).persist()
    new_seen = seen.unionByName(processed)

    # 9. discovery: out-links, BFS priority, min-priority merge with deferred
    discovered = (
        extracted.select(
            F.explode("links").alias("link"),
            (F.col("priority") + 1).alias("priority"),
        )
        .select(
            F.col("link.url").alias("canon_url"),
            F.col("link.l_host").alias("host"),
            F.col("link.l_surt").alias("surt"),
            "priority",
        )
    )
    # one groupBy, not two: anti-join the exploded links against seen
    # first (all-or-nothing per canon_url, so min-priority is unchanged),
    # then merge with deferred in a single min-aggregation — saves a full
    # shuffle+agg stage per wave vs group→anti→union→group. host and surt
    # are functions of canon_url, so grouping on the triple keeps the
    # groups and leaves only the int min (a hash aggregate; a string
    # min() forces a sort aggregate).
    # persist now, checkpoint-from-cache after the action (see step 8).
    new_frontier = (
        discovered.join(new_seen, "canon_url", "left_anti")
        .unionByName(deferred)
        .groupBy("canon_url", "host", "surt")
        .agg(F.min("priority").cast("int").alias("priority"))
        .persist()
    )

    # 10. the wave's ONE driver action: a union of single-column tag rows
    # counted in one job. It yields, simultaneously:
    #   - per-sorted-partition row counts  → sequencer offsets + selected
    #     count (operators/ordering.py phase 2, no dedicated collect);
    #   - the next frontier's size         → the caller's drained check
    #     and next wave's small-wave gate (no fresh count() per wave);
    #   - the full class/extract/discovery breakdown, whose class counts
    #     sum to the candidate rows → the one-row-per-frontier-URL check.
    # The union is column-pruned to the constant tag, so the real work is
    # one pass over the wave's caches — and it doubles as the
    # materialization point for sorted_sel / new_frontier / processed.
    one = F.lit(1).cast("long")
    tags = (
        sorted_sel.select(
            F.concat(F.lit("pid:"), F.col("__pid").cast("string")).alias("k"),
            one.alias("w"),
        )
        .unionByName(
            new_frontier.select(F.lit("frontier").alias("k"), one.alias("w"))
        )
        .unionByName(cand.select(F.col("__class").alias("k"), one.alias("w")))
        .unionByName(
            extracted.filter(F.col("text").isNotNull()).select(
                F.lit("extracted").alias("k"), one.alias("w")
            )
        )
        .unionByName(
            extracted.select(F.explode("links").alias("l")).select(
                F.lit("discovered").alias("k"), one.alias("w")
            )
        )
        .unionByName(
            extracted.select(
                F.lit("fetched_bytes").alias("k"),
                F.col("html_bytes").alias("w"),
            )
        )
    )
    counts = {
        r["k"]: r["n"]
        for r in tags.groupBy("k").agg(F.sum("w").alias("n")).collect()
    }
    n_candidates = sum(
        counts.get(c, 0) for c in ("disallowed", "miss", "ineligible", "eligible")
    )
    cached = (cand, ranked, extracted, processed, new_frontier, *seq_cache)
    if n_candidates != frontier_count:
        for df in cached:
            df.unpersist()
        raise ValueError(
            f"wave {wave}: {n_candidates} candidate rows for {frontier_count} "
            "frontier urls — the pages table has duplicate urls or the robots "
            "table duplicate hosts; keep one capture per url "
            "(sources.pages.latest_capture) and one robots row per host"
        )

    pid_counts = {
        int(k[4:]): int(n) for k, n in counts.items() if k.startswith("pid:")
    }
    n_selected = sum(pid_counts.values())
    frontier_size = int(counts.get("frontier", 0))

    # crawl order, phase 2: narrow offsets+rank pass over the cached sort
    crawl_order = global_seq_assign(
        sorted_sel, pid_counts, start=next_seq
    ).select("seq", "wave", F.col("canon_url").alias("url"), "host", "priority")

    n_extracted = counts.get("extracted", 0)
    metrics = {
        "wave": wave,
        "candidates": n_candidates,
        "disallowed": counts.get("disallowed", 0),
        "misses": counts.get("miss", 0),
        "ineligible": counts.get("ineligible", 0),
        "selected": n_selected,
        "deferred": counts.get("eligible", 0) - n_selected,
        "extracted": n_extracted,
        "extract_failures": n_selected - n_extracted,
        "discovered": counts.get("discovered", 0),
        "fetched_bytes": counts.get("fetched_bytes", 0),
        "frontier_size": frontier_size,
    }
    # lineage truncation, AFTER the single action: the lazy checkpoints
    # wrap the now-hot caches, so their materialization (triggered by the
    # next wave's action, or the background commit) is a block copy —
    # not a re-run, and not its own expensive execution mid-wave. The
    # caches retire one wave late (run_crawl), after these leaves exist.
    processed_leaf = processed.localCheckpoint(eager=False)
    frontier_leaf = new_frontier.localCheckpoint(eager=False)
    return WaveOutput(
        crawl_order=crawl_order,
        results=results,
        new_frontier=frontier_leaf,
        processed=processed_leaf,
        metrics=metrics,
        cached=cached,
    )
