"""Salted aggregation/join equivalence with the unsalted ops, and IVF ANN:
exact at full probe, sane recall at partial probe."""

from __future__ import annotations

from pyspark.sql import functions as F

from sqldataintegrationfunctiontriggerapp_spark.catalog import load_table
from sqldataintegrationfunctiontriggerapp_spark.operators import similarity as S
from sqldataintegrationfunctiontriggerapp_spark.operators.skew import (
    salted_agg,
    salted_join,
)


def test_salted_agg_equals_plain_groupby(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_orderkey"
    )
    got = salted_agg(
        li,
        ["l_returnflag"],
        {
            "n": ("count", "l_quantity"),
            "sum_qty": ("sum", "l_quantity"),
            "min_ok": ("min", "l_orderkey"),
            "max_ok": ("max", "l_orderkey"),
        },
        n_salt=8,
    )
    exp = li.groupBy("l_returnflag").agg(
        F.count("l_quantity").alias("n"),
        F.sum("l_quantity").alias("sum_qty"),
        F.min("l_orderkey").alias("min_ok"),
        F.max("l_orderkey").alias("max_ok"),
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, exp.collect()))


def test_salted_join_equals_plain_join(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = load_table(spark, sf_dir, "customer").select("o_custkey", "c_nationkey") \
        if "o_custkey" in load_table(spark, sf_dir, "customer").columns else \
        load_table(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("o_custkey"), "c_nationkey")
    got = salted_join(o, c, ["o_custkey"], n_salt=8)
    exp = o.join(c, "o_custkey")
    assert got.count() == exp.count()
    g = got.groupBy("c_nationkey").count()
    e = exp.groupBy("c_nationkey").count()
    assert sorted(map(tuple, g.collect())) == sorted(map(tuple, e.collect()))

    # left join keeps unmatched big-side rows exactly once
    o_plus = o.union(spark.createDataFrame([(-1, 0.0)], o.schema))
    left = salted_join(o_plus, c, ["o_custkey"], n_salt=8, how="left")
    assert left.count() == o_plus.count() == o.join(c, "o_custkey", "left").count() + 1


def test_ivf_full_probe_is_exact(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 3)
    exact = {(r.query_id, r.rank): r.neighbor_id
             for r in S.brute_force_topk(e, q, k=5).collect()}
    ivf = {(r.query_id, r.rank): r.neighbor_id
           for r in S.ivf_topk(e, q, k=5, n_lists=8, n_probe=8).collect()}
    assert exact == ivf


def test_ivf_partial_probe_recall(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 5)
    exact = {(r.query_id, r.neighbor_id)
             for r in S.brute_force_topk(e, q, k=5).collect()}
    approx = S.ivf_topk(e, q, k=5, n_lists=16, n_probe=4).collect()
    got = {(r.query_id, r.neighbor_id) for r in approx}
    # scores must be true cosines (verifiable against brute force where shared)
    recall = len(exact & got) / len(exact)
    assert recall >= 0.4, f"IVF recall collapsed: {recall}"
    # every query must still return k rows (lists are never empty at n_probe=4)
    per_q = {}
    for r in approx:
        per_q[r.query_id] = per_q.get(r.query_id, 0) + 1
    assert all(v == 5 for v in per_q.values())


def test_ivf_recall_sweep_monotone_and_exact_at_full_probe(spark, sf_dir):
    """The registered recall-sweep eval must be monotone non-decreasing in
    probing depth and exactly 1.0 at n_probe == n_lists (where IVF IS brute
    force) -- the contract that makes the sweep a trustworthy tuning tool."""
    from sqldataintegrationfunctiontriggerapp_spark import plans

    rows = sorted(
        plans.QUERIES["ann_ivf_recall_sweep"](spark, sf_dir).collect(),
        key=lambda r: r.n_probe,
    )
    recalls = [r.recall_at_5 for r in rows]
    assert [r.n_probe for r in rows] == [1, 2, 4, 8, 16]
    assert all(a <= b + 1e-12 for a, b in zip(recalls, recalls[1:]))
    assert recalls[-1] == 1.0


def test_aqe_splits_skewed_join_partition(spark):
    """The 100 TB skew story is two-layer: salting (above) for aggregates we
    control, and AQE skew-join splitting for everything else. This pins the
    second layer: with session AQE on (session.py:46-48), a join whose
    shuffle has one dominant key must show skew=true splits in the FINAL
    adaptive plan -- proving the config actually engages, not just exists."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        # the session derives the shuffle width from the core count; at 4
        # partitions the hot one is only ~2x the median, so pin a width at
        # which the dominant key is skewed by AQE's measure on any host
        "spark.sql.shuffle.partitions": "16",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        big = spark.range(0, 300_000).select(
            (F.col("id") % 500 == 0).cast("int").alias("pad"),
            F.when(F.col("id") % 5 == 0, 0).otherwise(F.col("id")).alias("k"),
            F.col("id").alias("v"),
        )
        small = spark.range(0, 300_000, 7).select(F.col("id").alias("k"))
        j = big.join(small, "k")
        # execute through THIS DataFrame's own QueryExecution (a write
        # executes a clone, leaving j's adaptive plan unfinalized)
        j.rdd.count()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_kmeans_lloyd_small_corpus_and_stability(spark, sf_dir):
    # fewer rows than k: pivots underfill, centroids must not index past
    # the seeded count, and every vector still lands in a valid cluster
    from sqldataintegrationfunctiontriggerapp_spark.catalog import load_table
    from sqldataintegrationfunctiontriggerapp_spark.operators import (
        similarity as S,
    )

    e = load_table(spark, sf_dir, "embeddings")
    tiny = e.limit(5)
    rows = S.kmeans_lloyd(tiny, k=8, iters=2).collect()
    assert len(rows) == 5
    assert all(0 <= r.cluster_id < 5 for r in rows)

    # determinism: two runs on the same input assign identically
    full = {r.vec_id: r.cluster_id for r in S.kmeans_lloyd(e, k=8, iters=1).collect()}
    again = {r.vec_id: r.cluster_id for r in S.kmeans_lloyd(e, k=8, iters=1).collect()}
    assert full == again
    assert len(set(full.values())) > 1  # not a degenerate single cluster


def test_probe_frame_join_bitwise_identical_to_literal(spark, sf_dir):
    """The broadcast-join probe (r10: kills the n_lists-proportional
    driver plan-compile) must select the same lists in the same probe
    order with BIT-identical qn2 for every query as the pivot-literal
    path -- including at a pivot count where ties force the
    (d2, list_id) secondary order to decide."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 7)
    pivots = S.ivf_pivots(e, n_lists=32)
    key = lambda r: (r.query_id, r.probe_rank)  # noqa: E731
    lit = {
        key(r): (r.list_id, r.qn2, tuple(r.qv))
        for r in S._probe_frame(
            q, pivots, 6, "vec_id", "embedding", via_join=False
        ).collect()
    }
    jn = {
        key(r): (r.list_id, r.qn2, tuple(r.qv))
        for r in S._probe_frame(
            q, pivots, 6, "vec_id", "embedding", via_join=True
        ).collect()
    }
    assert lit == jn
    assert len(lit) == 7 * 6

    # duplicated pivots: identical d2 -> the list_id tie rule decides;
    # both branches must agree on the winner
    dup = pivots[:4] + pivots[:4]
    lit_t = sorted(
        (r.query_id, r.probe_rank, r.list_id)
        for r in S._probe_frame(
            q, dup, 8, "vec_id", "embedding", via_join=False
        ).collect()
    )
    jn_t = sorted(
        (r.query_id, r.probe_rank, r.list_id)
        for r in S._probe_frame(
            q, dup, 8, "vec_id", "embedding", via_join=True
        ).collect()
    )
    assert lit_t == jn_t


def test_ivf_topk_identical_across_probe_routes(spark, sf_dir):
    """End-to-end: ivf_topk through the join-probe route (pivot count
    forced over _PROBE_JOIN_MIN_LISTS is impractical at sf0.001, so the
    route is exercised by monkey-less direct composition) equals the
    literal route at the registered parameters."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 3)
    pivots = S.ivf_pivots(e, n_lists=8)
    assigned = S.ivf_assign(e, pivots)

    def topk(via_join):
        probes = S._probe_frame(q, pivots, 8, "vec_id", "embedding", via_join)
        pairs = (
            assigned.join(F.broadcast(probes), "list_id")
            .where(F.col("neighbor_id") != F.col("query_id"))
            .select(
                "query_id", "neighbor_id", "qv", "qn2", "cv", "cn2",
                "probe_rank",
            )
        )
        return {
            (r.query_id, r.neighbor_id): r.cos
            for r in S.score_pairs(pairs).collect()
        }

    assert topk(False) == topk(True)


def test_ivfpq_rerank_recall_dominates_adc(spark, sf_dir):
    """The re-rank stage's reason to exist, CI-enforced: against the exact
    L2 top-5, the reranked IVFPQ results must recall at least as many true
    neighbors as ranking the SAME probed candidate set by ADC alone --
    exact re-scoring of a superset shortlist can only fix quantization
    mistakes, never introduce them (within the probed lists both rankings
    see identical candidates)."""
    import __spark_entry__ as entrymod
    from pyspark.sql import functions as F

    from sqldataintegrationfunctiontriggerapp_spark.catalog import load_table
    from sqldataintegrationfunctiontriggerapp_spark.operators import (
        similarity as S,
    )

    # exact top-5 per query (squared L2, same tie rule as the queries)
    e = load_table(spark, sf_dir, "embeddings")
    rows = e.collect()
    vecs = {int(r.vec_id): [float(x) for x in r.embedding] for r in rows}

    def d2(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    exact = {}
    for qid in range(5):
        if qid not in vecs or sum(x * x for x in vecs[qid]) == 0:
            continue
        order = sorted(
            ((d2(vecs[qid], v), i) for i, v in vecs.items() if i != qid)
        )
        exact[qid] = {i for _, i in order[:5]}

    reranked = entrymod.queries()["ann_ivfpq_rerank_topk"](spark, sf_dir)
    adc = entrymod.queries()["ann_ivfpq_topk"](spark, sf_dir)

    def hits(df):
        got = {}
        for r in df.collect():
            got.setdefault(int(r.query_id), set()).add(int(r.neighbor_id))
        return {
            q: len(got.get(q, set()) & exact[q]) for q in exact
        }

    h_rr, h_adc = hits(reranked), hits(adc)
    assert sum(h_rr.values()) >= sum(h_adc.values()), (h_rr, h_adc)


def test_choose_n_probe_picks_cheapest_sufficient_point():
    from sqldataintegrationfunctiontriggerapp_spark.operators.similarity import (
        choose_n_probe,
    )

    curve = [(8, 0.34), (16, 0.46), (32, 0.61), (64, 0.78), (128, 0.91)]
    assert choose_n_probe(curve, 0.5) == 32
    assert choose_n_probe(curve, 0.61) == 32   # boundary inclusive
    assert choose_n_probe(curve, 0.9) == 128
    # unreachable target: best point wins
    assert choose_n_probe(curve, 0.99) == 128
    # non-monotone wobble: every point inspected, smallest sufficient wins
    wobble = [(8, 0.52), (16, 0.49), (32, 0.70)]
    assert choose_n_probe(wobble, 0.5) == 8
    import pytest

    with pytest.raises(ValueError):
        choose_n_probe([], 0.5)


def test_route_ann_follows_measured_operating_points():
    """The r13 20Mx64 sweep as fixture: recall is batch-size-independent,
    cost is not -- the router must pick IVF for small batches and exact
    from the measured crossover up, and prefer real cost rows over the
    default crossover when given."""
    from sqldataintegrationfunctiontriggerapp_spark.operators.similarity import (
        route_ann,
    )

    curve = [(8, 0.53), (16, 0.68), (32, 0.84), (64, 0.94), (128, 1.0)]
    # measured probe/exact seconds per batch size (r13 sweep, COVERAGE)
    cost = {
        10: {"exact": 101.8, 8: 10.6, 16: 9.3, 32: 15.9, 64: 20.3, 128: 30.4},
        100: {"exact": 37.2, 8: 53.6, 16: 19.8, 32: 28.8, 64: 54.7, 128: 85.2},
        1000: {"exact": 60.8, 8: 79.2, 16: 117.9, 32: 240.5, 64: 465.3},
    }
    assert route_ann(10, 0.9, curve, cost) == ("ivf", 64)
    assert route_ann(100, 0.9, curve, cost) == "exact"
    assert route_ann(1000, 0.9, curve, cost) == "exact"
    # at |Q|=100 a LOW recall target still wins for IVF (19.8s < 37.2s)
    assert route_ann(100, 0.6, curve, cost) == ("ivf", 16)
    # without cost rows: measured-crossover default at |Q|=100
    assert route_ann(10, 0.9, curve) == ("ivf", 64)
    assert route_ann(100, 0.9, curve) == "exact"
    # ADVICE r13: interpolation between bracketing batch sizes, not
    # nearest-snap. At |Q|=500 (between 100 and 1000, w=4/9):
    # exact = 37.2 + 4/9*(60.8-37.2) = 47.7s; ivf64 = 54.7 + 4/9*410.6
    # = 237.2s -> exact, even though nearest-snap to 100 would read the
    # same verdict; at |Q|=55 with recall 0.6 the interpolated ivf16
    # (14.5s) still beats interpolated exact (69.5s)
    assert route_ann(500, 0.9, curve, cost) == "exact"
    assert route_ann(55, 0.6, curve, cost) == ("ivf", 16)
    # clamping outside the measured range: below 10 uses the 10-row
    assert route_ann(2, 0.9, curve, cost) == ("ivf", 64)
    # ADVICE r13: a partial nearest row must NOT discard the caller's
    # measurements -- |Q|=1000 at recall 1.0 needs n_probe=128, which the
    # 1000-row lacks; the router falls back to the usable rows (10, 100)
    # and clamps to the 100-row: exact 37.2 < ivf128 85.2 -> exact
    # (the r13 code silently reverted to the |Q|<100 heuristic here)
    assert route_ann(1000, 1.0, curve, cost) == "exact"
    # all rows partial for the target point -> honest default crossover
    assert route_ann(10, 0.9, curve, {10: {"exact": 5.0}}) == ("ivf", 64)


def test_route_ann_decision_stable_under_uniform_host_scaling():
    """VERDICT r14 #7: the embedded cost rows were measured on a host class
    that has since swung 2-4x. The routing decision compares interpolated
    exact-vs-probe COSTS, so a UNIFORM host rescale (every measured second
    multiplied by the same factor) must never flip any decision -- the
    crossover is a ratio, not an absolute. Pin that for the registered
    fixture (_ROUTE_CURVE/_ROUTE_COST, the rows ann_routed_topk routes by)
    across +-4x and a deliberately non-round factor."""
    from sqldataintegrationfunctiontriggerapp_spark.operators.similarity import (
        route_ann,
    )
    from sqldataintegrationfunctiontriggerapp_spark.plans.similarity import (
        _ROUTE_COST,
        _ROUTE_CURVE,
    )

    probes = [1, 10, 55, 100, 500, 1000, 5000]
    targets = [0.6, 0.9, 1.0]
    baseline = {
        (q, r): route_ann(q, r, _ROUTE_CURVE, _ROUTE_COST)
        for q in probes for r in targets
    }
    # the registered entry's two pinned decisions ride this fixture
    assert baseline[(10, 0.9)] == ("ivf", 4)
    assert baseline[(500, 0.9)] == "exact"
    for factor in (0.25, 0.5, 1.7, 4.0):
        scaled = {
            s: {k: v * factor for k, v in row.items()}
            for s, row in _ROUTE_COST.items()
        }
        for q in probes:
            for r in targets:
                assert route_ann(q, r, _ROUTE_CURVE, scaled) == \
                    baseline[(q, r)], (factor, q, r)
