"""Link-graph analytics over crawl output (north-rule addition; the
reference discards page content entirely — python/worker.py:26-27
"TODO: process text" — so link-graph ranking has no reference analog,
but it is what a real crawler derives its fetch priority from).

``pagerank_int`` is PageRank in **fixed-point integer arithmetic**:
every per-iteration quantity is a BIGINT (damping applied as
``num/den`` integer division, contributions as ``floor(pr/out_degree)``
summed exactly). Floating-point PageRank cannot be oracle-checked for
value-hash equality across engines — double SUM order differs between
Spark's partial aggregation and DuckDB's — while integer sums are
associative, so the fixed-point variant is EXACT cross-engine at any
parallelism (the same trade functions/numeric.py::round4 makes for
ratios, taken to its exact conclusion).

Scale notes (10^11-edge graph):
- each iteration is one shuffle join (edges ⋈ ranks on src — at scale,
  pre-partition both by src so the join reuses the layout) plus one
  aggregation keyed by dst; nothing driver-side except the loop bound;
- the rank frame doubles in lineage depth per iteration — for deep
  iteration counts truncate with ``localCheckpoint`` every few rounds
  (the crawl loop does the same; 5 iterations needs nothing);
- dangling nodes (no out-links) simply contribute nothing — their mass
  leaks, matching the simple formulation; nodes with no in-links settle
  at the base rank.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PR_SCALE = 1_000_000
PR_DAMP_NUM = 85
PR_DAMP_DEN = 100


def label_propagation_min(
    edges: DataFrame,
    iterations: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
    nodes: DataFrame | None = None,
    checkpoint_every: int | None = 3,
) -> DataFrame:
    """(node, label) after ``iterations`` rounds of undirected min-label
    propagation: label(v) = min node id within ``iterations`` hops of v —
    the CONNECTED COMPONENT id once ``iterations`` ≥ the component
    diameter. This is how pairwise near-duplicate output (MinHash/
    SimHash/embedding PAIRS) becomes dedup GROUPS: components of the
    pair graph are the duplicate clusters, and min-id is the canonical
    representative. Near-dup components are clique-like (diameter ≤ 2-3),
    so a small fixed round count is exact there — and a FIXED count is
    what makes the operator deterministic and oracle-checkable
    (``connected_components_star`` is the converge-until-done
    production path for graphs of unknown diameter).

    One shuffle join + one aggregation per round. Unlike ``pagerank_int``
    (whose plan grows linearly), each round references the label frame
    TWICE (self ∪ neighbors), so the plan doubles per round —
    ``checkpoint_every`` therefore defaults low (3: ≤8 label-frame
    copies between truncations); callers should also persist/checkpoint
    ``edges`` when its lineage is expensive, since it is embedded every
    round. ``nodes`` defaults to the vertices of ``edges``; a supplied
    frame ADDS isolated vertices — edge endpoints are always unioned in,
    or an endpoint missing from ``nodes`` would never contribute its own
    id to the label pool and its component would get a non-minimal
    label."""
    endpoints = (
        edges.select(F.col(src_col).alias("node"))
        .unionByName(edges.select(F.col(dst_col).alias("node")))
    )
    if nodes is None:
        nodes = endpoints.distinct()
    else:
        nodes = (
            nodes.select(F.col(nodes.columns[0]).alias("node"))
            .unionByName(endpoints)
            .distinct()
        )
    und = edges.select(
        F.col(src_col).alias("__x"), F.col(dst_col).alias("__y")
    ).unionByName(
        edges.select(F.col(dst_col).alias("__x"), F.col(src_col).alias("__y"))
    )
    labels = nodes.select("node", F.col("node").alias("label"))
    for it in range(iterations):
        labels = _lp_round(und, labels)
        if checkpoint_every and (it + 1) % checkpoint_every == 0 and (
            it + 1
        ) < iterations:
            labels = labels.localCheckpoint(eager=False)
    return labels


def _lp_round(und: DataFrame, labels: DataFrame) -> DataFrame:
    """One min-label round: label'(v) = min(label(v), min over neighbors)."""
    neigh = und.join(
        labels, und["__y"] == labels["node"]
    ).select(F.col("__x").alias("node"), "label")
    return (
        labels.unionByName(neigh)
        .groupBy("node")
        .agg(F.min("label").alias("label"))
    )


def connected_components_star(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    nodes: DataFrame | None = None,
    max_iterations: int = 50,
    checkpoint_every: int = 3,
    info: dict | None = None,
    *,
    cache: list,
) -> DataFrame:
    """(node, label) connected components via alternating large-star /
    small-star contraction — the O(log n)-round production path for
    graphs whose diameter is NOT clique-like (min-label propagation
    needs diameter-many rounds: a 10^6-long link chain is 10^6 rounds
    there and ~20 here). Each round:

    - large-star: every node points its strictly-LARGER neighbors at
      ``m(u) = min(N(u) ∪ {u})``;
    - small-star: orient each edge (max, min); every node points its
      smaller-or-equal neighbors (and itself) at the minimum.

    Both are implemented as groupBy-min + JOIN (never a per-node
    neighbor list collect — a star root's neighborhood IS the whole
    component, so collect_list would re-create the hot-key problem this
    operator family avoids). The edge set is a monotone contraction;
    at the fixed point it is exactly the set of (node, component-min)
    star edges. Convergence is detected by (count, Σ xxhash64) edge-set
    checksum — one tiny aggregate per round on the shrinking edge set
    (64-bit-collision-probability, i.e. negligibly short of exact);
    lineage truncates every ``checkpoint_every`` rounds from the hot
    cache. Labels are the component-min node ids (property-tested
    against a union-find); ``nodes`` adds isolated vertices. Pass
    ``info={}`` for ``info['rounds']``. The final round's persist goes
    in ``cache``; the caller unpersists it once the result is read."""
    endpoints = (
        edges.select(F.col(src_col).alias("node"))
        .unionByName(edges.select(F.col(dst_col).alias("node")))
    )
    if nodes is None:
        all_nodes = endpoints.distinct()
    else:
        all_nodes = (
            nodes.select(F.col(nodes.columns[0]).alias("node"))
            .unionByName(endpoints)
            .distinct()
        )
    e = edges.select(
        F.col(src_col).alias("u"), F.col(dst_col).alias("v")
    ).filter(F.col("u") != F.col("v")).distinct()

    def large_star(ed: DataFrame) -> DataFrame:
        und = ed.unionByName(
            ed.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = (
            und.groupBy("u")
            .agg(F.min("v").alias("__mv"))
            .select("u", F.least("__mv", F.col("u")).alias("m"))
        )
        return (
            und.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_star(ed: DataFrame) -> DataFrame:
        oriented = ed.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
        pointed = (
            oriented.join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(mins.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        return pointed

    def checksum(ed: DataFrame):
        row = ed.agg(
            F.count("*").alias("n"),
            F.sum(
                F.xxhash64(F.col("u"), F.col("v")).cast("decimal(38,0)")
            ).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    prev_sig, last_round = None, None
    converged = False
    try:
        for rounds in range(1, max_iterations + 1):
            e_new = small_star(large_star(e)).persist()
            sig = checksum(e_new)  # fills the cache: ONE action per round
            e = e_new
            if checkpoint_every and rounds % checkpoint_every == 0:
                e = e.localCheckpoint(eager=False)
            if last_round is not None:
                last_round.unpersist()
            last_round = e_new
            if sig == prev_sig:
                converged = True
                if info is not None:
                    info["rounds"] = rounds
                break
            prev_sig = sig
        if not converged:
            raise RuntimeError(
                f"star contraction did not converge in {max_iterations} "
                "rounds; raise max_iterations"
            )
        cache.append(last_round)
        # fixed point = (child, root) star edges; roots and isolated
        # nodes label themselves
        labels = e.select(F.col("u").alias("node"), F.col("v").alias("label"))
        return (
            all_nodes.join(labels, "node", "left")
            .select(
                "node", F.coalesce("label", F.col("node")).alias("label")
            )
        )
    finally:
        if not converged and last_round is not None:
            last_round.unpersist()


def pagerank_int(
    edges: DataFrame,
    iterations: int = 5,
    scale: int = PR_SCALE,
    damp_num: int = PR_DAMP_NUM,
    damp_den: int = PR_DAMP_DEN,
    src_col: str = "src",
    dst_col: str = "dst",
    nodes: DataFrame | None = None,
    checkpoint_every: int | None = 8,
) -> DataFrame:
    """Fixed-point PageRank: returns (node, pr) BIGINT ranks after
    ``iterations`` rounds of

        pr'[v] = base + (damp_num * Σ_{(u,v)∈E} pr[u] div deg(u)) div damp_den

    with ``base = scale * (damp_den - damp_num) // damp_den``. ``nodes``
    defaults to every vertex appearing in ``edges`` (pass the full node
    frame when isolated vertices must be ranked too). Duplicate edges
    should be deduplicated by the caller (out-degree counts rows).

    All division is INTEGRAL (`div`) end-to-end — routing it through a
    double quotient + floor would silently lose exactness once values
    pass 2^52 (a 10^8-node graph at scale 10^6 gets there), breaking
    both cross-engine equality and partitioning-independence. The rank
    frame is lineage-truncated every ``checkpoint_every`` iterations
    (CLAUDE.md: iterative loops must truncate or the driver chokes on
    plan strings at deep iteration counts); the default never fires at
    the usual 5 rounds. Callers should persist/checkpoint ``edges``
    when its lineage is expensive (it is embedded ~2× per iteration)."""
    if nodes is None:
        nodes = (
            edges.select(F.col(src_col).alias("node"))
            .unionByName(edges.select(F.col(dst_col).alias("node")))
            .distinct()
        )
    else:
        nodes = nodes.select(F.col(nodes.columns[0]).alias("node"))
    e = edges.select(F.col(src_col).alias("__src"), F.col(dst_col).alias("__dst"))
    outdeg = e.groupBy("__src").agg(F.count("*").alias("__deg"))
    base = scale * (damp_den - damp_num) // damp_den
    pr = nodes.select("node", F.lit(scale).cast("long").alias("pr"))
    for it in range(iterations):
        contrib = (
            e.join(pr, e["__src"] == pr["node"])
            .join(outdeg, "__src")
            .select(
                F.col("__dst").alias("__node"),
                F.expr("pr div __deg").cast("long").alias("__c"),
            )
            .groupBy("__node")
            .agg(F.sum("__c").alias("__contrib"))
        )
        pr = (
            nodes.join(contrib, nodes["node"] == contrib["__node"], "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.expr(
                        f"({damp_num} * coalesce(__contrib, 0L)) div {damp_den}"
                    )
                )
                .cast("long")
                .alias("pr"),
            )
        )
        if checkpoint_every and (it + 1) % checkpoint_every == 0 and (
            it + 1
        ) < iterations:
            pr = pr.localCheckpoint(eager=False)
    return pr
