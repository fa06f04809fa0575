"""Skew-stress proof (VERDICT r4 item 7): a deliberately hot-keyed corpus
through the MinHash band join, asserting AQE's skew-join actually splits
the hot partition (SURVEY §4 claims this comes for free — this test proves
it) and that the split changes nothing about the answer.

The corpus is the worst realistic case for LSH banding: a large block of
EXACT text clones (distinct ids), so every clone lands in one
(band_idx, band_key) bucket and that key holds 80% of one side's rows —
pure input-byte partition skew, the thing AQE's OptimizeSkewedJoin is
built to mitigate by splitting the oversized partition across tasks.
Thresholds are lowered to make the mechanism fire at test scale
(production defaults fire at 256 MB partitions); the mechanism is
identical at 100 TB.
"""

from __future__ import annotations

import random

import pytest

SKEW_CONFS = {
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "2KB",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1KB",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "512b",
}


@pytest.fixture
def skew_confs(spark):
    old = {}
    for k, v in SKEW_CONFS.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:  # noqa: BLE001 — unset conf
            old[k] = None
        spark.conf.set(k, v)
    yield
    for k, v in old.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def _skew_splits(spark, group: str) -> list[int]:
    """``number of skewed partition splits`` of every AQEShuffleRead in
    the SQL executions that ran jobs of job group ``group``, read from
    the SQL status store (no Spark job)."""
    sc = spark.sparkContext
    # both status stores are fed by the listener bus, asynchronously
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = set(sc.statusTracker().getJobIdsForGroup(group))
    store = spark._jsparkSession.sharedState().statusStore()
    splits = []
    execs = store.executionsList().iterator()
    while execs.hasNext():
        ex = execs.next()
        # py4j has no toArray on a Scala set: read the job ids as text
        ex_jobs = {int(j) for j in ex.jobs().keys().mkString(",").split(",") if j}
        if not ex_jobs & jobs:
            continue
        values = {}
        it = store.executionMetrics(ex.executionId()).iterator()
        while it.hasNext():
            kv = it.next()
            values[kv._1()] = kv._2()
        nodes = store.planGraph(ex.executionId()).allNodes().iterator()
        while nodes.hasNext():
            node = nodes.next()
            if node.name() != "AQEShuffleRead":
                continue
            ms = node.metrics().iterator()
            while ms.hasNext():
                m = ms.next()
                v = values.get(m.accumulatorId())
                if m.name() == "number of skewed partition splits" and v:
                    splits.append(int(v.replace(",", "")))
    return splits


def test_aqe_splits_hot_band_join(spark, skew_confs):
    from reflexiv_spark.datapipe.dedup import minhash_lsh_pairs

    rng = random.Random(5)
    tmpl = "".join(rng.choice("abcdefgh ") for _ in range(200))
    n_clones = 1600
    rows = [(i, tmpl) for i in range(n_clones)] + [
        (10_000 + i, "".join(rng.choice("abcdefghijklmnop ") for _ in range(200)))
        for i in range(400)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    sc = spark.sparkContext
    sc.setJobGroup("skewtest", "hot band join")
    try:
        pairs = minhash_lsh_pairs(docs, num_hashes=16, bands=1, threshold=0.9)
        cnt = pairs.groupBy().count()
        # exact clones: every clone pair survives at est_jaccard 1.0, the
        # random tail collides in none of the 16-row band
        assert cnt.collect()[0][0] == n_clones * (n_clones - 1) // 2
    finally:
        sc.setJobGroup("", "")

    # 1. the executed plan carries the skew split marker on the band join
    plan = cnt._jdf.queryExecution().executedPlan().toString()
    assert "skew=true" in plan, plan[:2000]

    # 2. stage metrics: the hot partition became many task splits — some
    # stage ran MORE tasks than the static shuffle partition count (4 in
    # tests), i.e. no single task carried the whole hot key
    st = sc.statusTracker()
    n_tasks = []
    for jid in st.getJobIdsForGroup("skewtest"):
        info = st.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            sinfo = st.getStageInfo(sid)
            if sinfo is not None:
                n_tasks.append(sinfo.numTasks)
    assert max(n_tasks) > 4, n_tasks


def test_token_budget_select_histogram_bounds_window_partitions(spark):
    """VERDICT r6 'What's wrong #1': token_budget_select must not window
    over a whole group. One group holds 99% of rows; the histogram path
    has to (a) match the naive single-window answer exactly and (b)
    actually spread the big group across many (group, bin) window
    partitions so no sort partition carries the group."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from reflexiv_spark.datapipe.sampling import token_budget_select

    rng = random.Random(11)
    n_big = 2000
    rows = [("en", i, rng.randrange(1, 100_000), "w " * rng.randrange(1, 9))
            for i in range(n_big)]
    rows += [("mi", 100_000 + i, rng.randrange(1, 100_000), "w w w")
             for i in range(20)]
    df = spark.createDataFrame(
        rows, "lang string, doc_id long, n_chars long, text string"
    )

    got = token_budget_select(df, budget=500, group_col="lang", n_bins=64)
    # (a) exact equality with the naive formulation the oracle uses
    toks = F.size(F.expr(
        r"regexp_extract_all(lower(coalesce(text, '')), '\\w+', 0)"
    )).cast("bigint")
    w = Window.partitionBy("lang").orderBy(F.col("n_chars").desc(), "doc_id")
    naive = (
        df.select("lang", "doc_id", "n_chars", toks.alias("n_tokens"))
        .withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .where(F.col("cum_tokens") - F.col("n_tokens") < 500)
        .select("lang", "doc_id", "n_tokens", "cum_tokens")
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, naive.collect())
    )

    # (b) the mechanism: the physical window partitions on (lang, __bin),
    # never on lang alone — assert on the executed plan's window spec
    plan = got._jdf.queryExecution().executedPlan().toString()
    specs = [ln for ln in plan.splitlines() if "windowspecdefinition" in ln]
    row_specs = [s for s in specs if "n_chars" in s]  # the per-row window
    assert row_specs, plan[:3000]
    assert all("__bin" in s for s in row_specs), row_specs


def test_pagerank_celebrity_graph(spark, skew_confs):
    """VERDICT r6 stretch #8: the graph family under power-law skew. One
    celebrity node emits 80% of all edges (out-degree hot key for the
    per-round rank join) and also receives a dense fan-in (in-degree hot
    key for the contribution groupBy). Asserts (a) ranks match an exact
    numpy replay of the fixed-iteration recurrence, (b) the contribution
    sum is two-stage (map-side partial_sum before the exchange — the
    built-in 'salted' form: each map task pre-collapses a hot in-degree
    key to one row, so the reduce task receives <= num-map-tasks partial
    rows, never edge-count rows), and (c) the per-iteration plan reuses
    ONE node partitioning (constant exchange count per round).

    Why (c) is the right skew claim and an AQE skew=true marker is NOT:
    the iteration chain is deliberately co-partitioned on the 8-byte
    node key — the rank join's child is the previous round's join, not
    a shuffle stage, so OptimizeSkewedJoin has nothing to split
    (verified: with forced 2KB thresholds the marker never appears).
    Breaking the co-partitioning to let AQE split would ADD an exchange
    of the full rank state every round. The out-degree hot partition's
    cost is a LINEAR scan of outdeg(celebrity) pre-joined edge rows
    whose output immediately partial-aggregates in the same task — no
    pair blow-up exists for a 1:N join on the N side, which is why the
    co-partitioned shape is the better trade at any scale."""
    import random

    from reflexiv_spark.datapipe.graph import pagerank

    rng = random.Random(7)
    celeb = 0
    edges = [(i, celeb) for i in range(1, 501)]            # fan-in
    edges += [(celeb, 10_000 + j) for j in range(8000)]    # fan-out: the
    # hot src key — one shuffle partition of the rank join holds 8000 of
    # ~9000 edge rows, far past factor×median
    edges += [
        (rng.randrange(1, 501), rng.randrange(10_000, 11_000))
        for _ in range(500)
    ]
    edges = sorted(set(edges))
    df = spark.createDataFrame(edges, "src long, dst long")

    sc = spark.sparkContext
    sc.setJobGroup("pagerank-skew", "celebrity graph")
    try:
        ranks = pagerank(df, iters=3)
        got = {r.node: r.rank for r in ranks.collect()}
    finally:
        sc.setJobGroup("", "")

    # (a) exact recurrence replay (double-float tolerance per the
    # documented round(6) caveat in the pagerank docstring)
    outdeg: dict[int, int] = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    nodes = {s for s, _ in edges} | {d for _, d in edges}
    r = {n: 1.0 for n in nodes}
    for _ in range(3):
        acc = {n: 0.0 for n in nodes}
        for s, d in edges:
            acc[d] += r[s] / outdeg[s]
        r = {n: 0.15 + 0.85 * acc[n] for n in nodes}
    assert set(got) == nodes
    assert all(abs(got[n] - r[n]) <= 2e-6 for n in nodes), sorted(
        (abs(got[n] - r[n]), n) for n in nodes
    )[-3:]

    # (b) two-stage contribution sum: partial_sum on the map side of the
    # groupBy(dst) exchange — the hot in-degree key arrives at the reduce
    # task as <= num-map-tasks partial rows, never edge-count rows
    plan = ranks._jdf.queryExecution().executedPlan().toString()
    assert "partial_sum" in plan, plan[:3000]

    # (c) bounded per-round exchange count: each extra iteration may add
    # at most a constant number of exchanges (edge probe, rank
    # re-attach, contribution agg, node-union side) — every one of them
    # 8-byte-keyed and nodes- or edges-sized, never growing with the
    # round number. A plan whose per-round cost compounds (the
    # stats-squaring / growing-lineage failure mode) shows
    # super-constant growth here. Count the AQE FINAL plan only:
    # executedPlan().toString() appends the pre-AQE "Initial Plan",
    # which double-counts every exchange and (since the round-10
    # edeg-barrier drop, which trades the LogicalRDD for a reusable
    # plain subtree) drowns the ReusedExchange nodes the change exists
    # to create. Measured: 4/round at iters=3 vs 1; bound 5 leaves one
    # exchange of slack before the guard cries growth.
    def _n_exch(p: str) -> int:
        final = p.split("== Initial Plan ==")[0]
        return sum(
            1
            for ln in final.splitlines()
            if "Exchange hashpartitioning" in ln and "ReusedExchange" not in ln
        )

    r1 = pagerank(df, iters=1)
    r1.write.format("noop").mode("overwrite").save()
    plan1 = r1._jdf.queryExecution().executedPlan().toString()
    per_round = (_n_exch(plan) - _n_exch(plan1)) / 2  # iters 3 vs 1
    assert per_round <= 5, (
        f"{per_round} exchanges/round (iters=3: {_n_exch(plan)}, "
        f"iters=1: {_n_exch(plan1)})"
    )


def test_cc_loop_splits_giant_component(spark, skew_confs):
    """VERDICT r13 next-round #5: planted skew for the connected-
    components kernel (the dup_clusters/cluster_keep_best CC loop). One
    giant star component makes node 0 the hot key of BOTH per-round
    joins — the hash-to-min edge⋈label join (every (i, 0) edge lands in
    one partition of the 'b' exchange) and, after round 1, the pointer
    jump (every node's label is 0, so the jump probe is single-key
    hot). Asserts (a) the labels are exactly the ground-truth
    components — the split changes nothing about the answer — and
    (b) AQE's OptimizeSkewedJoin actually fired: some AQEShuffleRead of
    the loop's SQL executions reports at least 2 skewed partition
    splits, i.e. the hot partition ran as more than one task and no
    single task carried the whole hot key.

    (b) reads Spark's own split count, not a stage task count. A split
    piece targets max(advisoryPartitionSizeInBytes, mean size of the
    non-skewed partitions) (OptimizeSkewedJoin.targetSize), so the 1 KB
    advisory size is not the target here: ``und`` holds 12,198 rows,
    5,999 of them on the hot key b = 0; each of the 3 other partitions
    holds ~6,199 / 4 ≈ 1,550 rows and the hot one ~7,550, about 4.9
    targets, so it becomes 5 splits and the join stage runs 3 + 5 = 8
    tasks. The ``base ∪ reversed`` map stage also runs 8 tasks (4 + 4
    input slices), so no stage-task bound tells a split from a map
    stage. Thresholds lowered to fire at test scale; the mechanism is
    identical at 100 TB (guide §2.5: AQE splits oversized join
    partitions at runtime but cannot split a single enormous key —
    here the key's rows arrive from MANY edge rows, which is exactly
    the splittable case)."""
    from reflexiv_spark.datapipe.cluster import dup_clusters

    n = 6000
    rows = [(0, i) for i in range(1, n)]
    rows += [(10_000 + 2 * i, 10_001 + 2 * i) for i in range(100)]
    pairs = spark.createDataFrame(rows, "id1 long, id2 long")

    sc = spark.sparkContext
    sc.setJobGroup("ccskew", "giant component")
    try:
        out = dup_clusters(pairs).collect()
    finally:
        sc.setJobGroup("", "")

    got = {(r["doc_id"], r["component"], r["csize"]) for r in out}
    want = {(i, 0, n) for i in range(n)}
    want |= {
        (10_000 + 2 * i + j, 10_000 + 2 * i, 2)
        for i in range(100)
        for j in (0, 1)
    }
    assert got == want

    splits = _skew_splits(spark, "ccskew")
    # the hot partition (~7,550 of 12,198 rows) against the split target
    # max(1 KB advisory, mean non-skewed partition ≈ 1,550 rows) makes
    # 5 splits per round's edge⋈label join; 1 split would be no split
    assert max(splits, default=0) >= 2, splits
