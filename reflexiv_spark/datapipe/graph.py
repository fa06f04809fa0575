"""Iterative graph analytics over edge DataFrames: fixed-iteration
PageRank.

Complements the hash-to-min connected-components kernel in
``datapipe/cluster.py``: CC answers "which docs are the same", PageRank
answers "which nodes matter" — the standard quality prior for link-graph
corpus filtering (page importance → document sampling weight).

Scale design (100 TB of edges): per iteration exactly one
rank-attachment join (8-byte node keys) and one contribution shuffle
(groupBy dst with map-side partial sums). Out-degrees are computed once
and stay attached to the edge table; the rank state is nodes-sized, never
edges-sized. Every round passes through
:func:`reflexiv_spark.plans.barriers.iteration_barrier`, the repo-wide
idiom that cuts lineage and stops Catalyst's size-estimate squaring in
iterative self-joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from reflexiv_spark.plans.barriers import iteration_barrier


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    barrier_every: int = 4,
) -> DataFrame:
    """Fixed-iteration PageRank on a directed edge list.

    The classic simple variant (uniform teleport ``1 - damping``,
    dangling mass not redistributed): exactly reproducible by an unrolled
    SQL oracle, deterministic given the edge set, and the variant used
    when ranks feed a *relative* ordering (corpus weighting, crawl
    prioritization) where the dangling-mass constant offset is
    irrelevant.

    ``rank_{t+1}(v) = (1-d) + d * sum_{u->v} rank_t(u) / outdeg(u)``

    Multi-edges collapse first (``distinct``) so a repeated link does not
    multiply its endorsement. Returns ``(node, rank)`` for every node
    appearing as a source or destination, ``rank`` rounded to 6 places.

    Determinism caveat: the per-iteration contribution sum is a
    double-precision ``F.sum`` whose addition order depends on
    partitioning, so ``round(rank, 6)`` is TOLERANCE-BASED, not
    bit-exact — a rank landing within an ulp of a rounding boundary can
    flip its 6th digit across runs or vs an unrolled SQL oracle (unlike
    the integer/dyadic-rational exactness devices the other operators
    use; same caveat applies to ``text.bigram_logprob``). Compare with
    an epsilon when hash equality matters and a boundary case appears.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    # Edges are scanned every round: materialize once (lazily — the
    # first action computes and pins them; no standalone warmup jobs),
    # stats reset. (Measured rejection, r14: dropping this barrier AND
    # the flags barrier below — the all-ReuseExchange single-job form —
    # was a same-session wash, 2.01 vs 2.00 s min; the barriers stay
    # for their stats-reset role.)
    e = iteration_barrier(e, eager=False)
    # outdeg is src-cardinality-sized → AQE broadcasts it; edeg carries
    # (src, dst, outdeg) and is the per-round probe table. Deliberately
    # NOT barriered: edeg is a CONSTANT relation (it never participates
    # in the iterative self-join whose stats-squaring the barrier
    # exists to stop), and converting it to a LogicalRDD made every
    # round's plan a distinct subtree, defeating ReuseExchange — the
    # edge exchange re-executed per iteration (round-9 paired study,
    # BASELINE.md: 5.91 → 4.43 s at sf1.0 with bit-identical output).
    # Left as a plain plan node, Catalyst marks the per-round probe
    # subtrees equal and reuses one shuffle for all rounds.
    outdeg = e.groupBy("src").agg(F.count("*").alias("outdeg"))
    edeg = e.join(outdeg, "src")
    # ONE barriered endpoint-flags aggregation replaces the r13 setup's
    # THREE barriers (dst-distinct, node union-distinct, no-in
    # anti-join). Each lazy barrier call runs its non-final stages as
    # separate driver-blocking jobs at CONSTRUCTION time, and the r13
    # profile put ~1.9 s of graph_pagerank's ~2.1 s wall in exactly
    # these setup jobs (guide §1.2/§2.4: the job count, not the bytes,
    # is the wall at this scale — and at 100 TB the three exchanges
    # those barriers paid, dst-distinct + union-distinct + anti-join,
    # collapse into this single max-flag aggregate, which map-side
    # combines to the same deduplicated endpoint rows). nodes, the
    # round-1 rank seed, and no_in, the constant (1-d) complement —
    # srcs \ dsts — become exchange-free FILTERS over the one
    # checkpointed flags relation.
    flags = iteration_barrier(
        e.select(F.col("src").alias("node"), F.lit(1).alias("s"), F.lit(0).alias("d"))
        .unionByName(
            e.select(F.col("dst").alias("node"), F.lit(0).alias("s"), F.lit(1).alias("d"))
        )
        .groupBy("node")
        .agg(F.max("s").alias("s"), F.max("d").alias("d")),
        eager=False,
    )
    nodes = flags.select("node")
    no_in = flags.where((F.col("s") == 1) & (F.col("d") == 0)).select("node")
    ranks = nodes.withColumn("rank", F.lit(1.0))
    for it in range(iters):
        contrib = (
            edeg.join(ranks, edeg["src"] == ranks["node"])
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") / F.col("outdeg")).alias("__c"),
            )
            .groupBy("node")
            .agg(F.sum("__c").alias("__in"))
        )
        # contrib covers exactly {v : some u→v}; no_in is its complement
        # within nodes, so the union hits every node exactly once
        ranks = contrib.select(
            "node",
            (
                F.lit(1.0 - damping) + F.lit(damping) * F.col("__in")
            ).alias("rank"),
        ).unionByName(no_in.withColumn("rank", F.lit(1.0 - damping)))
        # Barrier every few rounds, not every round: an eager
        # materialization per iteration costs a full job of scheduling
        # floor, while the stats-squaring pathology needs dozens of
        # unbarriered self-join rounds to bite. Cadence 4 keeps plan
        # depth and estimates bounded at a quarter of the job cost.
        if (it + 1) % max(1, barrier_every) == 0 and it + 1 < iters:
            ranks = iteration_barrier(ranks)
    return ranks.select("node", F.round("rank", 6).alias("rank"))


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node triangle counts on the undirected simple graph induced by
    the edge list (direction and multiplicity are collapsed; self-loops
    dropped). Returns ``(node, triangles)`` for every node of the graph.

    The standard distributed formulation (node-iterator++ / the
    degree-oriented join): orient every undirected edge from its
    lower-degree endpoint to its higher-degree endpoint (ties by id).
    Every triangle then has exactly one wedge (a→b, a→c) centered at its
    lowest-degree vertex, so the wedge join's fan-out per vertex is
    bounded by its ORIENTED out-degree — O(sqrt(m)) on any graph, which
    tames the celebrity-vertex hub that makes the naive wedge join
    quadratic. Two hash joins total: wedges (a→b ⋈ a→c), then a
    closing-edge probe against the undirected edge set (u < v).
    """
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
        )
        .distinct()
    )
    e = iteration_barrier(e, eager=False)
    deg = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = (
        e.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("a"),
            F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("b"),
        )
    )
    oriented = iteration_barrier(oriented, eager=False)
    w1 = oriented.select(F.col("a"), F.col("b").alias("x"))
    w2 = oriented.select(F.col("a"), F.col("b").alias("y"))
    wedges = w1.join(w2, "a").where(F.col("x") < F.col("y"))
    # Closing-edge probe directly against the undirected edge set: a
    # wedge (x, y) with x < y closes iff {x, y} is an edge, and e stores
    # every undirected edge exactly once as (u, v) with u < v — so the
    # id-ordered wedge pair matches e's ordering by construction. The
    # previous form materialized `closing` = oriented ∪ reversed(oriented)
    # + distinct; that distinct was provably a no-op (each undirected
    # edge yields exactly one oriented row, so the two union branches are
    # disjoint and internally duplicate-free) and the union re-scanned
    # the oriented barrier twice — probing e drops one scan and halves
    # the closing probe's shuffle rows (m instead of 2m; the exchange
    # count is unchanged) (guide §2.4: a distinct on data that is
    # already unique).
    closing = e.select(F.col("u").alias("x"), F.col("v").alias("y"))
    tris = wedges.join(closing, ["x", "y"]).select("a", "x", "y")
    per_node = (
        tris.select(F.explode(F.array("a", "x", "y")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("triangles"))
    )
    nodes = deg.select("node")
    return nodes.join(per_node, "node", "left").select(
        "node",
        F.coalesce("triangles", F.lit(0)).cast("bigint").alias("triangles"),
    )
