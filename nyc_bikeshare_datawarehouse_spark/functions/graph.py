"""Iterative graph analytics over edge DataFrames.

The reference has no graph operator; this extends the engine the same way
the dedup connected-components loop does (functions/dedup.py
`cluster_duplicates`): per-round join + aggregate with lineage truncated
every iteration, state sized to the GRAPH (nodes/edges), never the corpus.

PageRank here is the TextRank variant (Mihalcea & Tarau 2004, public
literature): weighted, no dangling-mass redistribution, per-node update

    S(v) = (1 - d) + d * sum_{u in In(v)} w_uv / outw_u * S(u)

computed in FIXED-POINT integer arithmetic (nano-rank units, longs) so a
10-iteration fixpoint is bit-identical across engines and across Spark's
own nondeterministic partial-aggregation order — the q_ols_trend /
q_tpch_q9 integer-exact pattern applied to an iterative algorithm. Float
PageRank would amplify summation-order drift over iterations and make a
hash oracle flaky; integer addition commutes exactly.

Scale shape: per-iteration work is one shuffle join (ranks ⋈ edges on
src) + one groupBy(dst) with map-side partial sums + one left join back
to the node list — all keyed on node ids, state = |V| rows of two longs.
The corpus-sized pass happens once, when the caller builds the edge
list. At 100 TB of text the token graph is vocabulary-bounded, so the
iterations run on megabytes while only edge construction sees the data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: one rank unit == 1e9 "nano-rank"; (1-d) and d are exact rationals.
UNIT = 1_000_000_000
#: damping d = 0.85 as the exact pair (85, 100).
DAMP_NUM, DAMP_DEN = 85, 100


def pagerank(
    edges: DataFrame,
    iters: int = 10,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "weight",
) -> DataFrame:
    """Fixed-point weighted PageRank (TextRank formula) over an edge list.

    `edges` must carry integer weights. Directed: callers wanting the
    undirected TextRank graph union both orientations first. Returns
    (node, score_nano) with score_nano a long in 1e-9 rank units.

    Integer update (all ops exact in any engine):

        contrib(u→v) = (S(u) * w_uv) div outw_u
        S'(v)        = (1-d)*UNIT + (85 * Σ contrib) div 100

    Bounds: Σ S(v) ≤ |V|·UNIT at every round (div floors), so with
    vocabulary-scale |V| and weights < 2^32 every product stays far from
    long overflow.

    Each round is localCheckpoint'd: without lineage truncation the plan
    doubles per iteration (same failure mode as the CC loop, see
    functions/dedup.py `cluster_duplicates`, which also documents the
    `reliable_checkpoint` trade-off for real clusters).
    """
    e = edges.select(
        F.col(src_col).alias("src"),
        F.col(dst_col).alias("dst"),
        F.col(weight_col).cast("long").alias("w"),
    )
    outw = e.groupBy("src").agg(F.sum("w").alias("outw"))
    e = e.join(outw, "src").localCheckpoint(eager=True)

    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    ranks = nodes.withColumn("score_nano", F.lit(UNIT).cast("long"))
    base = (UNIT // DAMP_DEN) * (DAMP_DEN - DAMP_NUM)  # (1-d)*UNIT exactly
    for _ in range(iters):
        contrib = (
            ranks.join(e, ranks.node == e.src)
            .select("dst", F.expr("(score_nano * w) div outw").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("tot"))
        )
        ranks = (
            nodes.join(contrib, nodes.node == contrib.dst, "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.expr(
                        f"({DAMP_NUM} * coalesce(tot, 0L)) div {DAMP_DEN}"
                    )
                ).cast("long").alias("score_nano"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks


def token_adjacency_edges(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Build the token co-occurrence graph TextRank runs on: one edge per
    distinct adjacent-token pair, weighted by corpus bigram count. The
    single corpus-sized pass — one explode + one groupBy on the pair —
    after which everything is vocabulary-sized.

    The graph is undirected (TextRank's): both orientations are emitted
    so `pagerank` sees symmetric in/out edges.
    """
    toks = df.select(F.filter(F.split(text_col, " "), lambda t: t != "").alias("t"))
    pairs = toks.filter(F.size("t") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 1),
                lambda i: F.struct(
                    F.element_at("t", i).alias("src"),
                    F.element_at("t", i + 1).alias("dst"),
                ),
            )
        ).alias("p")
    ).select("p.src", "p.dst")
    # fold both orientations into one weight per unordered pair, then
    # re-emit both directions (an a<->b pair must carry the SAME weight
    # on each side for the undirected formula)
    und = (
        pairs.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("weight"))
    )
    return und.select(
        F.col("a").alias("src"), F.col("b").alias("dst"), "weight"
    ).unionByName(
        und.select(F.col("b").alias("src"), F.col("a").alias("dst"), "weight")
    ).filter(F.col("src") != F.col("dst"))


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Minimum hop count from any seed node via iterative min-plus
    relaxation — the frontier-expansion sibling of the CC min-label loop
    (functions/dedup.py `cluster_duplicates`): each round extends every
    known distance across one edge and keeps the per-node minimum, so
    after k rounds distances <= k are exact. Returns (node, hops) for
    nodes reached within `max_hops`.

    All-integer state ⇒ bit-exact in any engine; per-round work is one
    join keyed on the node + one min-aggregate, state = reached nodes
    only (at 100 TB: frontier-sized, not graph-sized, until saturation).
    Lineage is truncated per round like every iterative operator here."""
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    dist = seeds.select(F.col(seeds.columns[0]).alias("node")).distinct().withColumn(
        "hops", F.lit(0)
    ).localCheckpoint(eager=True)
    for _ in range(max_hops):
        ext = dist.join(e, dist.node == e.src).select(
            F.col("dst").alias("node"), (F.col("hops") + 1).alias("hops")
        )
        dist = (
            dist.unionByName(ext)
            .groupBy("node")
            .agg(F.min("hops").alias("hops"))
            .localCheckpoint(eager=True)
        )
    return dist


def triangle_counts(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient over an
    undirected edge list, via DEGREE ORIENTATION (Chiba–Nishizeki /
    Suri–Vassilvitskii "Counting Triangles and the Curse of the Last
    Reducer", WWW'11 — public literature): orient every edge from its
    (degree, id)-smaller endpoint to the larger, enumerate wedges only
    from each node's ORIENTED out-neighborhood, and close them against
    the edge set. Out-degrees are bounded by O(√m), so materialized
    wedges are O(m^1.5) regardless of skew — a raw hub with degree 10⁶
    would otherwise emit 10¹² wedges from one reducer; oriented it
    emits none (every hub edge points INTO it). That bound is the whole
    100 TB story: three shuffles keyed on node/pair ids, no corpus pass.

    Returns (node, degree, triangles, coeff_bp) for every node, where
    coeff_bp = ⌊20000·T / (d·(d−1))⌋ — the local clustering coefficient
    in basis points, exact integer arithmetic end to end (engine-exact,
    so the whole computation hash-checks against a SQL oracle).
    """
    e = (
        edges.select(
            F.least(src_col, dst_col).alias("lo"),
            F.greatest(src_col, dst_col).alias("hi"),
        )
        .filter(F.col("lo") != F.col("hi"))
        .distinct()
    )
    deg = (
        e.select(F.col("lo").alias("node"))
        .unionByName(e.select(F.col("hi").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    dl = deg.select(F.col("node").alias("lo"), F.col("degree").alias("__dl"))
    dh = deg.select(F.col("node").alias("hi"), F.col("degree").alias("__dh"))
    # struct comparison is lexicographic in both engines: (deg, id) order
    keyed = e.join(dl, "lo").join(dh, "hi")
    lo_first = F.struct(F.col("__dl"), F.col("lo")) < F.struct(
        F.col("__dh"), F.col("hi")
    )
    oriented = keyed.select(
        F.when(lo_first, F.col("lo")).otherwise(F.col("hi")).alias("u"),
        F.when(lo_first, F.col("hi")).otherwise(F.col("lo")).alias("v"),
    )
    o2 = oriented.select(F.col("u").alias("u2"), F.col("v").alias("v2"))
    wedges = oriented.join(o2, (F.col("u") == F.col("u2")) & (F.col("v") < F.col("v2"))).select(
        F.col("u").alias("a"), F.col("v").alias("b"), F.col("v2").alias("c")
    )
    tris = wedges.join(
        e,
        (e.lo == F.least(wedges.b, wedges.c)) & (e.hi == F.greatest(wedges.b, wedges.c)),
    ).select("a", "b", "c")
    node_tri = (
        tris.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("triangles"))
    )
    return deg.join(node_tri, "node", "left").select(
        "node",
        "degree",
        F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
        F.when(
            F.col("degree") >= 2,
            F.expr("(20000 * coalesce(triangles, 0L)) div (degree * (degree - 1))"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("coeff_bp"),
    )


def shortest_paths(
    edges: DataFrame,
    seeds: DataFrame,
    cap: int,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
    max_iters: int | None = None,
) -> DataFrame:
    """Weighted single/multi-source shortest-path distances by min-plus
    relaxation to FIXPOINT (Bellman-Ford, distributed form) — the
    weighted generalization of `bfs_hops`. Positive integer weights
    only; distances above `cap` are dropped (and the cap is what makes
    a bounded-enumeration SQL oracle possible: every (node, dist ≤ cap)
    path sum is a finite set both engines can close over).

    The per-round state (node → best dist) is MONOTONE: a round can
    only add nodes or lower existing distances, so the O(1)-row
    (count, sum) fingerprint is a sound fixpoint test on its own —
    count equal means no additions, and with every per-node value ≤ its
    predecessor an equal sum forces equality everywhere, so no exact
    set-difference confirmation is needed.

    Scale: each round is one join keyed on node id + one min-aggregate
    over state ∪ extensions; state ≤ |V| rows of two longs, rounds ≤
    the weighted diameter in edges. `max_iters` defaults to cap + 1 —
    with integer weights ≥ 1 a ≤cap path has ≤cap edges, so cap rounds
    always reach the fixpoint and one more confirms it; a smaller
    explicit max_iters on a legal input would otherwise crash (a chain
    of cap weight-1 edges needs exactly cap rounds). Lineage
    checkpointed per round."""
    if max_iters is None:
        max_iters = cap + 1
    e = edges.select(
        F.col(src_col).alias("src"),
        F.col(dst_col).alias("dst"),
        F.col(weight_col).cast("long").alias("w"),
    ).localCheckpoint(eager=True)
    dist = (
        seeds.select(F.col(seeds.columns[0]).alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
        .localCheckpoint(eager=True)
    )

    def _fp(df: DataFrame):
        row = df.agg(
            F.count(F.lit(1)).alias("n"), F.sum("dist").alias("s")
        ).head()
        return (row["n"], row["s"])

    fp = _fp(dist)
    for _ in range(max_iters):
        ext = dist.join(e, dist.node == e.src).select(
            F.col("dst").alias("node"), (F.col("dist") + F.col("w")).alias("dist")
        )
        dist = (
            dist.unionByName(ext)
            .filter(F.col("dist") <= cap)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=True)
        )
        new_fp = _fp(dist)
        if new_fp == fp:
            return dist
        fp = new_fp
    raise RuntimeError(
        f"shortest_paths did not converge in {max_iters} rounds "
        "(weighted diameter exceeds max_iters — raise it)"
    )


def absorption_probs(
    edges: DataFrame,
    iters: int,
    conv: str = "CONV",
    null: str = "NULL",
) -> DataFrame:
    """Absorption probability of the `conv` state after `iters` rounds
    of integer value iteration over a (scenario, src, dst, cnt)
    transition multigraph — the engine of Markov multi-touch
    attribution (Anderl et al. 2014's removal-effect framework, public
    literature). p(conv)=UNIT and p(null)=0 are pinned; every other
    state updates p(s) ← (Σ_dst cnt·p(dst)) div tot(s) in nano-units,
    so the k-round result is bit-exact in any engine (the pagerank
    fixed-point contract) and replays as k unrolled SQL CTEs. From the
    all-zero start, round k yields P(absorb into conv within k steps) —
    a FIXED, documented horizon, not an approximation knob.

    All scenarios advance together in one frame per round: state =
    (scenarios × states) rows of one long — the corpus never enters
    the loop. Lineage checkpointed per round."""
    tot = edges.groupBy("scenario", "src").agg(F.sum("cnt").alias("tot"))
    e = edges.join(tot, ["scenario", "src"]).localCheckpoint(eager=True)
    nodes = (
        e.select("scenario", F.col("src").alias("node"))
        .unionByName(e.select("scenario", F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nonabs = nodes.filter(~F.col("node").isin(conv, null))
    absrows = nodes.filter(F.col("node").isin(conv, null)).select(
        "scenario",
        "node",
        F.when(F.col("node") == conv, F.lit(UNIT))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("p"),
    )
    p = nonabs.withColumn("p", F.lit(0).cast("long")).unionByName(absrows)
    for _ in range(iters):
        pj = p.select(
            F.col("scenario").alias("__s2"),
            F.col("node").alias("__n2"),
            F.col("p").alias("__p2"),
        )
        upd = (
            e.join(
                pj,
                (e.scenario == F.col("__s2")) & (e.dst == F.col("__n2")),
            )
            .groupBy(e.scenario.alias("scenario"), e.src.alias("node"), "tot")
            .agg(F.sum(F.col("cnt") * F.col("__p2")).alias("__sum"))
            .select(
                "scenario",
                "node",
                F.expr("__sum div tot").cast("long").alias("p"),
            )
        )
        p = (
            nonabs.join(upd, ["scenario", "node"], "left")
            .select(
                "scenario",
                "node",
                F.coalesce("p", F.lit(0)).cast("long").alias("p"),
            )
            .unionByName(absrows)
            .localCheckpoint(eager=True)
        )
    return p


def two_star_components(
    pairs: DataFrame,
    all_ids: DataFrame,
    id_col: str = "doc_id",
    max_iters: int = 50,
    reliable_checkpoint: bool = False,
) -> DataFrame:
    """Connected components under the name of the alternating large-star /
    small-star algorithm (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14), whose round loop this engine used to
    carry: every node gets `cluster_id` = the min id in its component.
    It is now a thin wrapper over the engine's one CC implementation,
    `dedup.cluster_duplicates` (a one-task solve under its edge gate,
    pointer-jumping rounds capped by `max_iters` above it)."""
    from nyc_bikeshare_datawarehouse_spark.functions.dedup import cluster_duplicates

    return cluster_duplicates(pairs, all_ids, id_col, max_iters, reliable_checkpoint)
