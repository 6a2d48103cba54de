"""Fragment gather-scatter kernels (plans/kernels.py) vs DataFrame results."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import make_edges, make_vertices


def test_gather_scatter_sum_matches_join(spark):
    from libgrape_lite_spark.plans.kernels import gather_scatter, partition_edges

    e = make_edges(spark, [(i, (i * 3) % 50) for i in range(200)] + [(0, 1)] * 5)
    state = spark.range(200).select(
        F.col("id"), (F.col("id") * 0.5 + 1.0).alias("val")
    )
    want = {
        r["id"]: r["g"]
        for r in e.join(state.withColumnRenamed("id", "src"), "src")
        .groupBy(F.col("dst").alias("id"))
        .agg(F.sum("val").alias("g"))
        .collect()
    }
    ep = partition_edges(e, 4)
    got = {r["id"]: r["gathered"] for r in gather_scatter(ep, state, "val", 4).collect()}
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], rel=1e-12)


def test_gather_scatter_min(spark):
    from libgrape_lite_spark.plans.kernels import gather_scatter, partition_edges

    e = make_edges(spark, [(1, 3), (2, 3), (4, 3), (1, 5)])
    state = spark.createDataFrame(
        [(1, 9.0), (2, 4.0), (4, 7.0)], "id long, val double"
    )
    ep = partition_edges(e, 3)
    got = {r["id"]: r["gathered"] for r in
           gather_scatter(ep, state, "val", 3, reduce_fn="min").collect()}
    assert got == {3: 4.0, 5: 9.0}


def test_wcc_kernel_equals_dataframe(spark):
    from libgrape_lite_spark.operators import wcc

    v = make_vertices(spark, range(20))
    e = make_edges(spark, [(i, i + 1) for i in range(8)] + [(12, 13), (13, 14), (17, 18)])
    a = {r["id"]: r["comp"] for r in wcc(v, e).collect()}
    b = {r["id"]: r["comp"] for r in wcc(v, e, impl="kernel", num_fragments=4).collect()}
    assert a == b


def test_lcc_wedge_equals_intersect(spark):
    from libgrape_lite_spark.operators.lcc import triangle_counts

    v = make_vertices(spark, range(12))
    e = make_edges(
        spark,
        [(i, (i + 1) % 12) for i in range(12)] + [(i, (i + 2) % 12) for i in range(12)],
    )
    a = {r["id"]: r["tri"] for r in triangle_counts(v, e, impl="wedge").collect()}
    b = {r["id"]: r["tri"] for r in triangle_counts(v, e, impl="intersect").collect()}
    assert a == b


def test_cdlp_kernel_equals_dataframe(spark):
    from libgrape_lite_spark.operators import cdlp

    v = make_vertices(spark, range(15))
    e = make_edges(
        spark,
        [(i, (i + 1) % 15) for i in range(15)]
        + [(0, 5), (5, 0), (3, 3), (7, 8), (7, 8)],  # self-loop + parallel edge
    )
    a = {r["id"]: r["label"] for r in cdlp(v, e, max_rounds=4).collect()}
    b = {r["id"]: r["label"] for r in
         cdlp(v, e, max_rounds=4, impl="kernel", num_fragments=4).collect()}
    assert a == b


def test_pagerank_kernel_equals_dataframe(spark):
    from libgrape_lite_spark.operators import pagerank

    v = make_vertices(spark, range(30))
    e = make_edges(
        spark, [(i, (i + 1) % 30) for i in range(30)] + [(i, (i * 7) % 30) for i in range(30)]
    )
    a = {r["id"]: r["rank"] for r in pagerank(v, e, max_rounds=6).collect()}
    b = {r["id"]: r["rank"] for r in
         pagerank(v, e, max_rounds=6, impl="kernel", num_fragments=4).collect()}
    for k in a:
        assert b[k] == pytest.approx(a[k], rel=1e-10)


def test_wcc_auto_equals_dataframe(spark):
    """PIE local-fixpoint kernel (impl='auto') matches the join fixpoint on
    a multi-chain + cross-link graph (chains exercise the local collapse)."""
    from libgrape_lite_spark.operators import wcc
    from tests.conftest import make_edges, make_vertices

    # two long chains + a bridge + an isolated pair + a self-loop
    edges = [(i, i + 1) for i in range(0, 19)] + [(30, 31), (5, 40), (40, 41), (7, 7)]
    ids = sorted({x for e in edges for x in e})
    v, e = make_vertices(spark, ids), make_edges(spark, edges)
    want = {r["id"]: r["comp"] for r in wcc(v, e, impl="dataframe").collect()}
    got = {r["id"]: r["comp"] for r in wcc(v, e, impl="auto", num_fragments=4).collect()}
    assert got == want


def test_wcc_kernel_long_ids_past_2_53(spark):
    """Long-typed gather: component ids above 2^53 survive exactly (the
    old double path would round them)."""
    from libgrape_lite_spark.operators import wcc

    base = (1 << 53) + 1  # odd; double would round to 2^53
    ids = [base, base + 1, base + 3]
    edges = [(base, base + 1)]
    v = spark.createDataFrame([(i,) for i in ids], "id long")
    e = spark.createDataFrame([(s, d, 1.0) for s, d in edges], "src long, dst long, weight double")
    got = {r["id"]: r["comp"] for r in wcc(v, e, impl="kernel", num_fragments=2).collect()}
    assert got == {base: base, base + 1: base, base + 3: base + 3}


def test_wcc_jump_off_equals_on(spark):
    from libgrape_lite_spark.operators import wcc
    from tests.conftest import make_edges, make_vertices

    edges = [(i, i + 1) for i in range(0, 12)] + [(3, 20), (20, 21)]
    ids = sorted({x for e in edges for x in e})
    v, e = make_vertices(spark, ids), make_edges(spark, edges)
    a = {r["id"]: r["comp"] for r in wcc(v, e, jump=True).collect()}
    b = {r["id"]: r["comp"] for r in wcc(v, e, jump=False).collect()}
    assert a == b


def test_sssp_auto_equals_dataframe(spark):
    """sssp_auto local-relaxation kernel matches the frontier fixpoint on a
    weighted multi-chain graph with a shortcut that flips the best path."""
    from libgrape_lite_spark.operators import sssp
    from tests.conftest import make_edges, make_vertices

    edges = (
        [(i, i + 1, 1.0) for i in range(0, 15)]
        + [(0, 10, 3.5)]          # shortcut beats the 10-hop chain
        + [(20, 21, 2.0), (21, 22, 2.0)]  # unreachable from 0? no — connect:
        + [(14, 20, 0.5)]
        + [(5, 5, 9.0)]           # self loop no-op
    )
    ids = sorted({x for e in edges for x in e[:2]})
    v = make_vertices(spark, ids)
    e = make_edges(spark, edges)
    want = {r["id"]: r["dist"] for r in sssp(v, e, source=0).collect()}
    got = {r["id"]: r["dist"] for r in
           sssp(v, e, source=0, impl="auto", num_fragments=4).collect()}
    assert got == want
    # directed variant too
    want_d = {r["id"]: r["dist"] for r in sssp(v, e, source=0, directed=True).collect()}
    got_d = {r["id"]: r["dist"] for r in
             sssp(v, e, source=0, directed=True, impl="auto", num_fragments=4).collect()}
    assert got_d == want_d


def test_static_plans_overlapping_threads(spark):
    """Two threads' overlapping static_plans scopes: AQE stays off until
    the LAST scope exits, and nested scopes restore only at the outermost
    exit."""
    import threading

    from libgrape_lite_spark.session import static_plans

    key = "spark.sql.adaptive.enabled"
    assert spark.conf.get(key) == "true"
    a_in, b_in, a_out = threading.Event(), threading.Event(), threading.Event()
    seen = {}

    def first():
        with static_plans(spark):
            a_in.set()
            b_in.wait(30)
        a_out.set()

    def second():
        a_in.wait(30)
        with static_plans(spark):
            b_in.set()
            a_out.wait(30)
            seen["after_first_exit"] = spark.conf.get(key)

    threads = [threading.Thread(target=first), threading.Thread(target=second)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(60)
    assert seen == {"after_first_exit": "false"}
    assert spark.conf.get(key) == "true"

    with static_plans(spark):
        with static_plans(spark):
            pass
        assert spark.conf.get(key) == "false"
    assert spark.conf.get(key) == "true"

    # a second session has its own SQL conf and its own scope count
    other = spark.newSession()
    other.conf.set(key, "true")
    with static_plans(spark):
        with static_plans(other):
            assert other.conf.get(key) == "false"
        assert other.conf.get(key) == "true"
        assert spark.conf.get(key) == "false"
    assert spark.conf.get(key) == "true"


def _assert_layouts_stay_partitioned(spark, v, e, nf):
    from libgrape_lite_spark.operators import cdlp, pagerank, sssp, wcc
    from libgrape_lite_spark.plans.kernels import (
        hash_partitioning,
        layout_scan_parents,
        prepare_graph,
        superstep_plans,
    )

    layouts = prepare_graph(v, e)
    keys = {"push": "src", "push_weighted": "src", "gather_src": "src",
            "gather_dst": "dst", "pie": "part", "degree": "id"}
    assert set(layouts) == set(keys)
    for name, layout in layouts.items():
        assert hash_partitioning(layout) == ([keys[name]], nf), name

    runs = {
        "pagerank": lambda d: pagerank(v, e, max_rounds=3, driver=d),
        "cdlp": lambda d: cdlp(v, e, max_rounds=3, driver=d),
        "sssp": lambda d: sssp(v, e, source=0, driver=d),
        "wcc": lambda d: wcc(v, e, impl="auto", driver=d),
    }
    for app, run in runs.items():
        plans = superstep_plans(spark, run)
        assert plans, app
        for step, plan in enumerate(plans, 1):
            parents = layout_scan_parents(plan, layouts.values())
            assert parents, (app, step)  # the superstep reads a pinned layout
            bad = [p for p in parents if p in ("ShuffleExchangeExec", "SortExec")]
            assert not bad, (app, step, parents)


def test_prepared_layouts_stay_partitioned(spark):
    """Under the default (AQE on) session, every layout prepare_graph pins
    reports hashpartitioning(<its key>, nf), and no superstep of pagerank,
    cdlp, sssp or wcc (auto) re-exchanges or re-sorts a pinned layout —
    on the base graph and on a mutate()d one."""
    from libgrape_lite_spark.mutation import mutate

    nf = int(spark.conf.get("spark.sql.shuffle.partitions"))
    pairs = [(i, (i * 7 + 3) % 60, 1.0 + i % 3) for i in range(60)]
    pairs += [(i, i + 1, 2.0) for i in range(0, 59, 2)]
    v = make_vertices(spark, range(60))
    e = make_edges(spark, pairs)
    _assert_layouts_stay_partitioned(spark, v, e, nf)

    delta = spark.createDataFrame(
        [("add", 5, 40, 1.5), ("add", 1, 33, 0.5), ("del", 0, 3, None),
         ("upd", 2, 17, 9.0)],
        "op string, src long, dst long, weight double",
    )
    v2, e2 = mutate(v, e, delta)
    _assert_layouts_stay_partitioned(spark, v2, e2, nf)
