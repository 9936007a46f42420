"""Link-graph operators for corpus curation: PageRank and degree
statistics over an edge list — the web-graph quality prior used to
weight crawled documents (hosts with high centrality are likelier to
host quality text), plus the degree profile every graph sanity check
starts with.

Beyond the reference's surface; first-class here because a 100 TB web
corpus carries a link graph whose centrality is a standard curation
feature, and PageRank is the canonical "iterative algorithm on Spark"
shape — worth owning as a tuned plan rather than re-deriving per
pipeline.

Scale design (per iteration): ONE equi-join of the edge list with the
rank vector on ``src`` (edges are pre-partitioned on src ONCE, so every
iteration's join reuses that exchange and shuffles only the
node-sized rank frame) + ONE groupBy on ``dst`` (map-side combinable
sum). Dangling mass and the iteration-convergence delta are scalar
aggregates — no driver-side node state ever; lineage is truncated with
localCheckpoint every few iterations exactly like the connected-
components fixpoint (operators/dedup.py), so 30 iterations do not build
a 30-deep recursive plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .._utils import materialize, owned, release

__all__ = ["pagerank", "degree_stats", "triangle_count"]


def degree_stats(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Per-node in/out degree in ONE pass (r15): each edge explodes to
    an (endpoint, out, in) indicator pair and one map-side-combinable
    groupBy sums both degrees — one shuffle of 2|E| skinny rows where
    the previous shape paid two shuffles over the edge list plus a
    full-outer join of the two count frames. Missing side = 0 falls
    out of the sum. Null endpoints are not nodes (dropped — the same
    policy as connected_components). Output: (node, out_deg, in_deg)."""
    s, d = F.col(src), F.col(dst)
    m = (edges.select(F.explode(F.array(
            F.struct(s.alias("node"),
                     F.lit(1).cast("long").alias("o"),
                     F.lit(0).cast("long").alias("i")),
            F.struct(d.alias("node"),
                     F.lit(0).cast("long").alias("o"),
                     F.lit(1).cast("long").alias("i")))).alias("e"))
         .select("e.*")
         .where(F.col("node").isNotNull()))
    return m.groupBy("node").agg(F.sum("o").alias("out_deg"),
                                 F.sum("i").alias("in_deg"))


def pagerank(
    edges: DataFrame, src: str, dst: str,
    n_iter: int = 10, damping: float = 0.85,
    checkpoint_every: int = 4,
    personalization: DataFrame | None = None,
) -> DataFrame:
    """PageRank with uniform teleport and uniform dangling-mass
    redistribution (the mass-conserving textbook formulation, so ranks
    sum to 1 at every iteration):

        PR'(v) = (1-d)/N + d * ( sum_{u->v} PR(u)/out(u) + D/N )

    where D is the total rank sitting on dangling nodes (out-degree 0).
    Multi-edges count once (the edge list is de-duplicated first —
    matching the usual host-graph construction); node set = src ∪ dst.

    ``personalization``: a (node, weight) frame of teleport seeds
    turns this into PERSONALIZED PageRank — teleport and dangling mass
    land on the (normalized) seed distribution s instead of 1/N:

        PR'(v) = (1-d)·s(v) + d * ( sum_{u->v} PR(u)/out(u) + D·s(v) )

    i.e. TrustRank (Gyongyi, Garcia-Molina & Pedersen, VLDB 2004):
    seed a handful of trusted hosts and rank flows outward along
    links — the standard seed-trust prior for weighting a crawled
    corpus. Seeds are assumed small (a curated list) and BROADCAST;
    per-iteration plan shape is unchanged from the uniform case — the
    seed column rides the checkpointed nodes frame. Weights need not
    be normalized (done here); seeds absent from the graph are
    ignored; an all-zero/empty seed set raises. Duplicate seed rows
    for one node are summed BEFORE validation, so the non-negativity
    check applies to each node's NET weight (r13 ADVICE, documented
    contract): a node listed as (n, 2.0) and (n, -1.0) is a legal net
    seed of 1.0 — the teleport distribution only needs per-node mass
    ≥ 0 — while any node whose rows net negative raises.

    Output: (node, rank). Deterministic: fixed iteration count, no RNG.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")) \
             .dropna().distinct()
    # pre-partition ONCE on src: every iteration's join then reuses this
    # layout and only the (node, rank) frame moves.
    e = e.repartition("src").localCheckpoint(eager=False)

    out_deg = e.groupBy(F.col("src").alias("node")) \
               .agg(F.count(F.lit(1)).alias("out_deg"))
    nodes = (e.select(F.col("src").alias("node"))
             .union(e.select(F.col("dst").alias("node")))
             .distinct()
             .join(out_deg, "node", "left")
             .select("node", F.coalesce("out_deg", F.lit(0)).alias("out_deg")))
    if personalization is not None:
        pcols = personalization.columns
        # pre-aggregate: duplicate node rows in the seed frame would
        # otherwise fan out the node set through the left join
        # (inflated N, duplicated rank rows, wrong mass)
        seeds = (personalization
                 .select(F.col(pcols[0]).alias("node"),
                         F.col(pcols[1]).cast("double").alias("__w"))
                 .groupBy("node").agg(F.sum("__w").alias("__w")))
        nodes = nodes.join(F.broadcast(seeds), "node", "left") \
            .select("node", "out_deg",
                    F.coalesce("__w", F.lit(0.0)).alias("__w"))
    nodes = nodes.localCheckpoint(eager=False)
    if personalization is not None:
        # ONE action carries count + the seed-validation aggregates
        # (sum/min) — no second pass over the seed join
        row = nodes.agg(F.count(F.lit(1)).alias("n"),
                        F.sum("__w").alias("tot"),
                        F.min("__w").alias("mn")).first()
        n = int(row["n"])
        if n and row["mn"] is not None and row["mn"] < 0:
            raise ValueError(
                "personalized pagerank: negative seed weight — teleport "
                "shares must be non-negative")
        if n and (row["tot"] is None or row["tot"] <= 0):
            raise ValueError(
                "personalized pagerank: no positive-weight seed node "
                "exists in the graph")
        if n:
            # normalize over seeds PRESENT in the graph, so s sums to 1
            # on the node set and ranks stay a distribution; tot is a
            # driver scalar from the action above — no broadcast join
            nodes = nodes.select(
                "node", "out_deg",
                (F.col("__w") / F.lit(float(row["tot"]))).alias("__s"))
    else:
        n = nodes.count()
    if n == 0:
        return nodes.select("node", F.lit(0.0).alias("rank"))

    if personalization is None:
        # uniform path keeps the exact r7-era constant expressions
        # (bit-identical to the stamped plan); s = 1/N algebraically
        nodes = nodes.withColumn("__s", F.lit(1.0 / n))
        teleport = F.lit((1.0 - damping) / n)
        dang_term = F.lit(damping) * F.col("__dang") / F.lit(float(n))
    else:
        teleport = F.lit(1.0 - damping) * F.col("__s")
        dang_term = F.lit(damping) * F.col("__dang") * F.col("__s")

    pr = nodes.select("node", "out_deg", "__s",
                      F.col("__s").alias("rank"))

    def _step(pr):
        # dangling mass as a broadcast 1-row scalar (the house
        # with_global_totals shape) — NOT a .first() per iteration,
        # which would run an action (and the whole lineage) n_iter
        # times; the plan stays lazy, one pass per iteration.
        dang = pr.where(F.col("out_deg") == 0) \
                 .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("__dang"))
        # ANSI-safe: dangling rows never match an edge, but the
        # projection still evaluates on them — guard the division.
        share = F.when(F.col("out_deg") > 0,
                       F.col("rank") / F.col("out_deg"))
        contrib = (
            e.join(pr.select(F.col("node").alias("src"), share.alias("c")),
                   "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("c").alias("in_rank")))
        return (nodes.join(contrib, "node", "left")
                .crossJoin(F.broadcast(dang))
                .select("node", "out_deg", "__s",
                        (teleport + dang_term
                         + F.lit(damping)
                         * F.coalesce("in_rank", F.lit(0.0))).alias("rank")))

    # r15: each iteration consumes pr TWICE — the dangling-mass
    # broadcast subtree and the contrib join — and Spark does not CSE
    # the two, so an uncached pr re-evaluated its whole iteration chain
    # per consumer (2^k leaf evaluations between checkpoints; measured:
    # 3-iteration pagerank spent most of its wall re-running earlier
    # iterations). Every iteration after the first therefore
    # materializes the node-sized rank frame (narrow rows,
    # disk-spillable): the broadcast build computes it once and every
    # later read is a cache hit. An eager localCheckpoint every
    # checkpoint_every rounds truncates lineage; the rounds before it
    # run in their own owned() block, released once the checkpoint has
    # superseded them. The rounds after the last checkpoint feed the
    # returned lazy frame, so their caches belong to the caller.
    prev_ckpt = None
    for start in range(0, n_iter, checkpoint_every):
        stop = min(start + checkpoint_every, n_iter)
        if stop == n_iter:
            for it in range(start, stop):
                pr = _step(materialize(pr) if it > 0 else pr)
            break
        with owned():
            for it in range(start, stop):
                pr = _step(materialize(pr) if it > 0 else pr)
            pr = pr.localCheckpoint(eager=True)
        # the chain's PREVIOUS checkpoint is superseded once the new
        # one is eagerly materialized (df.unpersist is a no-op on
        # checkpoints; see _utils.release). The last checkpoint is
        # never released: the returned frame derives from it.
        if prev_ckpt is not None:
            release(prev_ckpt)
        prev_ckpt = pr
    return pr.select("node", "rank")


def triangle_count(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Per-node triangle counts on the undirected simple graph (self
    loops dropped, multi-edges collapsed) — the clustering-structure
    signal of graph sanity checks and spam detection.

    Scale plan (Suri & Vassilvitskii's MapReduce algorithm): orient
    every undirected edge from its lower-(degree, node) endpoint to the
    higher. Every triangle then has exactly ONE wedge rooted at its
    minimum vertex, so the wedge self-join emits each triangle once,
    and a hash semi-join against the canonical edge set closes it.
    Wedge work per node is bounded by its ORIENTED out-degree ≤ O(√m)
    for all but the globally heaviest nodes — a hub with degree d costs
    d·√m, not d², which is what makes this survive power-law graphs.

    Output: (node, triangles) for every node in ≥1 triangle.
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")) \
        .dropna().where(F.col("a") != F.col("b"))
    und = e.select(F.least("a", "b").alias("a"),
                   F.greatest("a", "b").alias("b")).distinct()
    und = und.localCheckpoint(eager=False)

    deg = (und.select(F.col("a").alias("node"))
           .unionAll(und.select(F.col("b").alias("node")))
           .groupBy("node").agg(F.count(F.lit(1)).alias("d")))
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("db"))
    lower_first = (F.col("da") < F.col("db")) | \
        ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
    o = (und.join(da, "a").join(db, "b")
         .select(F.when(lower_first, F.col("a")).otherwise(F.col("b"))
                 .alias("s"),
                 F.when(lower_first, F.col("b")).otherwise(F.col("a"))
                 .alias("t")))

    e1 = o.select(F.col("s"), F.col("t").alias("u"))
    e2 = o.select(F.col("s"), F.col("t").alias("v"))
    wedges = e1.join(e2, "s").where(F.col("u") < F.col("v"))
    closed = wedges.join(
        und.select(F.col("a").alias("u"), F.col("b").alias("v")),
        ["u", "v"])  # u < v by construction matches the canonical key

    nodes = (closed.select(F.col("s").alias("node"))
             .unionAll(closed.select(F.col("u").alias("node")))
             .unionAll(closed.select(F.col("v").alias("node"))))
    return nodes.groupBy("node").agg(
        F.count(F.lit(1)).alias("triangles"))
