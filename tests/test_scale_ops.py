"""Scale-engineering tests: salted joins/aggs on skewed keys, bucketed
shuffle-free joins, raw-SQL Query passthrough."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datapipelinerepo_spark.io import Query, register_views, write_bucketed
from datapipelinerepo_spark.operators import skew as K


@pytest.fixture(scope="module")
def skewed(spark):
    """1000 rows where one key ('hot') holds 90% of the table."""
    hot = spark.range(900).select(
        F.lit("hot").alias("k"), F.col("id").alias("v")
    )
    cold = spark.range(100).select(
        F.concat(F.lit("c"), F.col("id")).alias("k"), F.col("id").alias("v")
    )
    return hot.union(cold)


@pytest.fixture(scope="module")
def dim(spark):
    rows = [("hot", "HOT")] + [(f"c{i}", f"C{i}") for i in range(100)]
    return spark.createDataFrame(rows, ["k", "label"])


def test_salted_join_matches_plain_join(spark, skewed, dim):
    plain = skewed.join(dim, on="k").select("k", "v", "label")
    salted = K.salted_join(skewed, dim, key="k", salt_buckets=8).select(
        "k", "v", "label"
    )
    assert plain.count() == salted.count() == 1000
    assert plain.exceptAll(salted).isEmpty()
    assert salted.exceptAll(plain).isEmpty()


def test_salted_join_spreads_hot_key(spark, skewed):
    salted = skewed.withColumn(
        "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in skewed.columns]), F.lit(8))
    )
    n_buckets = (
        salted.filter(F.col("k") == "hot").select("_salt").distinct().count()
    )
    assert n_buckets == 8  # hot key occupies every salt bucket


def test_salted_count_matches_direct(spark, skewed):
    direct = {r["k"]: r["n"] for r in skewed.groupBy("k").agg(F.count(F.lit(1)).alias("n")).collect()}
    salted = {r["k"]: r["n_rows"] for r in K.salted_count_by_key(skewed, "k", 8).collect()}
    assert direct == salted


def test_salted_join_rejects_outer_joins(spark, skewed, dim):
    """Right/full joins would emit one null-padded row per unmatched
    dim replica — the operator must refuse rather than corrupt."""
    with pytest.raises(ValueError, match="inner"):
        K.salted_join(skewed, dim, key="k", how="full")
    with pytest.raises(ValueError):
        K.salted_join(skewed, dim, key="k", how="right")


def test_salted_left_join_keeps_unmatched_fact(spark, skewed):
    dim_partial = spark.createDataFrame([("hot", "HOT")], ["k", "label"])
    out = K.salted_join(skewed, dim_partial, key="k", how="left")
    assert out.count() == 1000  # every fact row exactly once
    assert out.filter(F.col("label").isNull()).count() == 100  # cold keys


def test_key_skew_profile_flags_hot_key(spark, skewed):
    prof = K.key_skew_profile(skewed, "k", top_n=3).collect()
    assert prof[0]["k"] == "hot" and prof[0]["n_rows"] == 900
    assert prof[0]["share"] == pytest.approx(0.9)


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path_factory):
    """Two tables bucketed on the join key sort-merge-join with zero
    Exchange in the physical plan — the write-once/join-free posture."""
    from datapipelinerepo_spark.io import load_table

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    write_bucketed(orders, "b_orders", "o_orderkey", 8)
    write_bucketed(
        li.withColumnRenamed("l_orderkey", "o_orderkey"), "b_lineitem", "o_orderkey", 8
    )
    try:
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table("b_orders").join(
                spark.table("b_lineitem"), on="o_orderkey"
            )
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, "bucketed join still shuffles"
            assert joined.count() > 0
            # and the bucketed GROUP BY on the same key is shuffle-free too
            agg = spark.table("b_lineitem").groupBy("o_orderkey").count()
            agg_plan = agg._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in agg_plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_asof_join_semantics(spark):
    """Equal timestamps match (>=), missing priors yield NULL, and the
    newest prior row wins."""
    from datapipelinerepo_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, "k", 10), (2, "k", 20), (3, "k", 5), (4, "other", 10)],
        ["lid", "k", "ts"],
    )
    right = spark.createDataFrame(
        [("k", 10, 1.0), ("k", 15, 2.0)], ["k", "ts", "v"]
    )
    got = {
        r["lid"]: r["v"]
        for r in asof_join(left, right, key="k", left_ts="ts", right_ts="ts").collect()
    }
    assert got == {1: 1.0, 2: 2.0, 3: None, 4: None}


def test_asof_join_unorderable_value_column(spark):
    """A map-typed value column rides along as payload (ADVICE r6: the
    r6 tie-break put the full payload struct into the window ORDER BY,
    which Spark rejects for maps) — the tie-break now orders only the
    orderable value columns, so the join still plans, the map payload
    still carries row-atomically, and same-timestamp right rows still
    resolve deterministically by the orderable column."""
    from datapipelinerepo_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, "k", 10), (2, "k", 3)], ["lid", "k", "ts"])
    right = spark.createDataFrame(
        [("k", 5, 1.0, {"a": 1}), ("k", 5, 2.0, {"b": 2})],
        "k string, ts long, v double, m map<string,int>",
    )
    got = {
        r["lid"]: (r["v"], r["m"])
        for r in asof_join(
            left, right, key="k", left_ts="ts", right_ts="ts"
        ).collect()
    }
    # ties on (k, ts) break on the orderable struct (v asc → last wins
    # under last_value over ordered frame = max v), and the map comes
    # from the SAME winning row
    assert got[1] == (2.0, {"b": 2})
    assert got[2] == (None, None)


def test_asof_join_all_values_unorderable(spark):
    """Degenerate case: every value column is a map — the ORDER BY
    drops the tie-break entirely (ts+side only) and the join still
    runs."""
    from datapipelinerepo_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, "k", 10)], ["lid", "k", "ts"])
    right = spark.createDataFrame(
        [("k", 5, {"a": 1})], "k string, ts long, m map<string,int>"
    )
    rows = asof_join(left, right, key="k", left_ts="ts", right_ts="ts").collect()
    assert rows[0]["m"] == {"a": 1}


def test_headline_plans_have_no_sort_merge_join(spark, sf_dir):
    """Regression guard: every headline join query broadcasts its dim
    side — a SortMergeJoin appearing here means a broadcast was lost
    (statistics regression or an accidentally-huge build side)."""
    from datapipelinerepo_spark.registry import REGISTRY

    for name in ["flagship_coverage_gap", "q3_top_revenue", "q5_region_volume",
                 "q10_returned_items", "q7_bilateral_volume", "q14_promo_share"]:
        plan = REGISTRY[name].fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" not in plan, f"{name} lost its broadcast join"


def test_query_passthrough(spark, sf_dir):
    register_views(spark, sf_dir)
    q = Query(spark, "SELECT COUNT(*) AS n FROM nation")
    assert q.run().first()["n"] == 25


def test_partition_pruning(spark, sf_dir, tmp_path):
    """A date-partitioned table scanned with a partition predicate reads
    only the matching partition directories (dynamic file pruning at
    the source — at 100 TB the scan cost is proportional to the slice,
    not the table)."""
    from datapipelinerepo_spark.io import load_table

    out = str(tmp_path / "orders_by_month")
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "omonth", F.month("o_orderdate")
    )
    orders.write.partitionBy("omonth").parquet(out)
    part = spark.read.parquet(out).filter(F.col("omonth") == 3)
    plan = part._jdf.queryExecution().executedPlan().toString()
    # the month predicate lands in PartitionFilters (directory pruning),
    # not in the row-level data filters
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "= 3" in pf
    expected = (
        spark.read.parquet(out).collect()
    )
    assert part.count() == sum(1 for r in expected if r["omonth"] == 3) > 0


def test_decontaminate_broadcasts_benchmark_side(spark, sf_dir):
    """The eval-set n-gram membership test must run inside the corpus
    scan stage: the benchmark grams broadcast (BroadcastHashJoin
    LeftSemi), the corpus side never shuffles for it."""
    from datapipelinerepo_spark.registry import REGISTRY
    import datapipelinerepo_spark.registry_ext  # noqa: F401

    plan = (
        REGISTRY["text_decontaminate"]
        .fn(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "SortMergeJoin" not in plan


def test_f18_fill_join_broadcasts(spark, sf_dir):
    """f18_unavail_fill's filtered customer side broadcasts; orders
    stream through map-side."""
    from datapipelinerepo_spark.registry import REGISTRY

    plan = (
        REGISTRY["f18_unavail_fill"]
        .fn(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SortMergeJoin" not in plan, "filtered dim side lost its broadcast"


def test_late_tpch_shapes_plan_audit(spark, sf_dir):
    """Q2/Q8/Q9/Q16 shapes: every dim broadcasts (no SortMergeJoin at
    this SF) and the selective dim predicates reach the parquet scan.
    Q2 additionally must NOT evaluate its cost subtree twice — the
    window-min decorrelation keeps it at <=2 hash exchanges."""
    from datapipelinerepo_spark.registry import REGISTRY

    expect_pushed = {
        "q2_min_cost_supplier": "EqualTo(p_size,15)",
        "q8_market_share": "EqualTo(p_type,ECONOMY)",
        "q9_product_profit": "StringContains(p_name,gear)",
        "q16_supplier_count": "LessThan(s_acctbal,0.0)",
    }
    for name, pushed in expect_pushed.items():
        plan = (
            REGISTRY[name].fn(spark, sf_dir)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "SortMergeJoin" not in plan, f"{name} lost a broadcast"
        assert pushed in plan, f"{name}: {pushed} not pushed to scan"
    q2 = (
        REGISTRY["q2_min_cost_supplier"].fn(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert q2.count("Exchange hashpartitioning") <= 2


# ---------------------------------------------------------------------------
# PageRank: iterative operator vs dense NumPy reference
# ---------------------------------------------------------------------------


def _numpy_pagerank(edges, n_nodes, damping, iters, nodes=None):
    """Dense power-iteration reference with uniform dangling
    redistribution — the textbook semantics the operator implements."""
    import numpy as np

    nodes = sorted(nodes or {u for e in edges for u in e[:2]})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    P = np.zeros((n, n))
    for u, v, w in edges:
        P[idx[u], idx[v]] += w
    outw = P.sum(axis=1)
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        contrib = np.zeros(n)
        for i in range(n):
            if outw[i] > 0:
                contrib += r[i] * P[i] / outw[i]
            else:
                contrib += r[i] / n  # dangling mass spread uniformly
        r = (1 - damping) / n + damping * contrib
    return {v: r[idx[v]] for v in nodes}


def test_pagerank_matches_numpy_with_dangling(spark):
    """Graph with a dangling node (4 has no out-edges) and asymmetric
    weights: every rank matches the dense reference to 1e-9 and the
    ranks sum to 1 (mass conserved through the dangling branch)."""
    from datapipelinerepo_spark.operators.graph import pagerank

    edges = [(1, 2, 2.0), (1, 3, 1.0), (2, 3, 1.0), (3, 4, 1.0), (2, 4, 3.0)]
    df = spark.createDataFrame(edges, ["src", "dst", "w"])
    got = {
        r["node"]: r["rank"]
        for r in pagerank(df, weight="w", damping=0.85, iters=12).collect()
    }
    want = _numpy_pagerank(edges, 4, 0.85, 12)
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-9, (v, got[v], want[v])
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_pagerank_no_dangling_fast_path_agrees(spark):
    """On a symmetrized graph the assume_no_dangling fast path equals
    the general path exactly (same floats: identical plan arithmetic)."""
    from datapipelinerepo_spark.operators.graph import pagerank

    edges = [(1, 2, 1.0), (2, 1, 1.0), (2, 3, 2.0), (3, 2, 2.0),
             (3, 1, 1.0), (1, 3, 1.0)]
    df = spark.createDataFrame(edges, ["src", "dst", "w"])
    a = {r["node"]: r["rank"]
         for r in pagerank(df, weight="w", iters=8).collect()}
    b = {r["node"]: r["rank"]
         for r in pagerank(df, weight="w", iters=8,
                           assume_no_dangling=True).collect()}
    assert set(a) == set(b)
    for v in a:
        assert abs(a[v] - b[v]) < 1e-12
    hub = max(a, key=a.get)
    assert hub == 2  # highest-degree node wins on this graph


# ---------------------------------------------------------------------------
# SCD2 dimension merge
# ---------------------------------------------------------------------------


def test_scd2_close_insert_noop_and_null_transitions(spark):
    """One update batch: a real change closes the open row and appends
    a new version; a same-value update is a no-op; an unseen key
    inserts; NULL→value counts as a change (null-safe compare)."""
    import datetime as dt

    from datapipelinerepo_spark.operators.relational import scd2_apply

    d0, d1 = dt.date(2020, 1, 1), dt.date(2024, 6, 1)
    cur = spark.createDataFrame(
        [
            (1, "GOLD", d0, None, True),
            (2, "SILVER", d0, None, True),
            (3, None, d0, None, True),
            (4, "IRON", d0, dt.date(2022, 1, 1), False),  # closed history row
            (4, "STEEL", dt.date(2022, 1, 1), None, True),
        ],
        "custkey long, segment string, valid_from date, valid_to date, is_current boolean",
    )
    upd = spark.createDataFrame(
        [
            (1, "PLATINUM", d1),  # change
            (2, "SILVER", d1),    # no-op
            (3, "BRONZE", d1),    # NULL -> value: change
            (9, "NEW", d1),       # unseen key: insert
        ],
        "custkey long, segment string, eff date",
    )
    out = scd2_apply(
        cur, upd, key="custkey", tracked=["segment"], effective_col="eff"
    )
    rows = {(r["custkey"], r["segment"]): r for r in out.collect()}
    assert len(rows) == 8  # 5 original + 2 new versions + 1 insert
    assert rows[(1, "GOLD")]["valid_to"] == d1
    assert rows[(1, "GOLD")]["is_current"] is False
    assert rows[(1, "PLATINUM")]["is_current"] is True
    assert rows[(2, "SILVER")]["is_current"] is True
    assert rows[(2, "SILVER")]["valid_to"] is None
    assert rows[(3, None)]["is_current"] is False
    assert rows[(3, "BRONZE")]["valid_from"] == d1
    assert rows[(4, "IRON")]["is_current"] is False  # history untouched
    assert rows[(4, "STEEL")]["is_current"] is True  # no update for key 4
    assert rows[(9, "NEW")]["is_current"] is True


def test_scd2_reapply_converges(spark):
    """Applying the SAME update batch twice changes nothing the second
    time: the open row already carries the new value, so the merge is
    idempotent (the property that makes retried dimension loads safe)."""
    import datetime as dt

    from datapipelinerepo_spark.operators.relational import scd2_apply

    d0, d1 = dt.date(2020, 1, 1), dt.date(2024, 6, 1)
    cur = spark.createDataFrame(
        [(1, "A", d0, None, True)],
        "custkey long, segment string, valid_from date, valid_to date, is_current boolean",
    )
    upd = spark.createDataFrame(
        [(1, "B", d1)], "custkey long, segment string, eff date"
    )
    once = scd2_apply(cur, upd, "custkey", ["segment"], "eff")
    twice = scd2_apply(once, upd, "custkey", ["segment"], "eff")
    a = sorted(map(tuple, once.collect()))
    b = sorted(map(tuple, twice.collect()))
    assert a == b


def test_round3_analytics_plan_audit(spark, sf_dir):
    """Retention / anomaly / SCD2 / funnel plan shapes: no SortMergeJoin
    (small sides broadcast), and the exchange count stays at the
    designed minimum — a new exchange in one of these is a plan
    regression, not noise."""
    from datapipelinerepo_spark.registry import REGISTRY

    bounds = {
        "events_retention": 3,       # distinct, per-user min, cell agg
        "events_anomaly_days": 3,    # daily rollup, stats agg, final
        "scd2_dimension_merge": 2,   # key join + new-key anti join
        "events_funnel": 5,          # three per-user mins + stage joins
    }
    for name, max_exch in bounds.items():
        plan = (
            REGISTRY[name].fn(spark, sf_dir)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "SortMergeJoin" not in plan, f"{name} lost a broadcast"
        got = plan.count("Exchange hashpartitioning")
        assert got <= max_exch, f"{name}: {got} exchanges (max {max_exch})"


def test_pagerank_empty_and_single_edge(spark):
    """Degenerate inputs: an empty edge set returns an empty frame (not
    a division-by-zero); a single directed edge gives the sink the
    larger rank and conserves mass."""
    from datapipelinerepo_spark.operators.graph import pagerank

    empty = spark.createDataFrame([], "src long, dst long, w double")
    assert pagerank(empty, weight="w").count() == 0

    one = spark.createDataFrame([(1, 2, 1.0)], ["src", "dst", "w"])
    got = {r["node"]: r["rank"] for r in pagerank(one, weight="w", iters=6).collect()}
    assert abs(sum(got.values()) - 1.0) < 1e-9
    assert got[2] > got[1]


def test_triangle_count_known_graphs(spark):
    """K4 has 4 triangles; C5 has none; a triangle with a pendant edge
    has exactly 1; duplicate/reversed edge rows don't double-count."""
    from datapipelinerepo_spark.operators.graph import triangle_count

    def tc(edges):
        df = spark.createDataFrame(edges, ["id_a", "id_b"])
        return triangle_count(df).collect()[0]["n_triangles"]

    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    assert tc(k4) == 4
    c5 = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 1)]
    assert tc(c5) == 0
    tri_pendant = [(1, 2), (2, 3), (1, 3), (3, 4)]
    assert tc(tri_pendant) == 1
    messy = k4 + [(2, 1), (3, 1), (1, 2)]  # reversed + duplicated rows
    assert tc(messy) == 4


def test_clustering_coefficient_known_graphs(spark):
    """K4: every node has coeff 1.0 (3 triangles each, deg 3). Triangle
    with a pendant: triangle nodes coeff 1.0 except the attachment
    point (deg 3, 1 triangle -> 1/3); pendant node (deg 1) excluded.
    Totals agree with triangle_count x3 credit."""
    from datapipelinerepo_spark.operators.graph import (
        clustering_coefficient,
        triangle_count,
    )

    k4 = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)], ["id_a", "id_b"]
    )
    rows = {r["node"]: r for r in clustering_coefficient(k4).collect()}
    assert all(rows[n]["coeff"] == 1.0 and rows[n]["n_triangles"] == 3 for n in (1, 2, 3, 4))

    tp = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], ["id_a", "id_b"]
    )
    rows = {r["node"]: r for r in clustering_coefficient(tp).collect()}
    assert 4 not in rows  # degree-1 node excluded
    assert rows[1]["coeff"] == 1.0 and rows[2]["coeff"] == 1.0
    assert rows[3]["degree"] == 3 and rows[3]["coeff"] == 0.3333
    total_credit = sum(r["n_triangles"] for r in rows.values())
    n_tri = triangle_count(tp).collect()[0]["n_triangles"]
    assert total_credit == 3 * n_tri


def test_scd2_extra_columns_and_reopen(spark):
    """Round-4 ADVICE fixes: (1) non-tracked columns of ``current``
    survive the merge — carried onto the replacement version, NULL on
    inserted rows; (2) an update for a key that exists only as CLOSED
    history reopens it instead of being silently discarded."""
    import datetime as dt

    from datapipelinerepo_spark.operators.relational import scd2_apply

    d0, d1 = dt.date(2020, 1, 1), dt.date(2024, 6, 1)
    d_close = dt.date(2022, 1, 1)
    cur = spark.createDataFrame(
        [
            (1, "GOLD", "alice", d0, None, True),
            (2, "IRON", "bob", d0, d_close, False),  # closed-only key
        ],
        "custkey long, segment string, owner string, "
        "valid_from date, valid_to date, is_current boolean",
    )
    upd = spark.createDataFrame(
        [(1, "PLATINUM", d1), (2, "STEEL", d1)],
        "custkey long, segment string, eff date",
    )
    out = scd2_apply(cur, upd, "custkey", ["segment"], "eff")
    assert out.columns == cur.columns  # full schema, original order
    rows = {(r["custkey"], r["segment"]): r for r in out.collect()}
    assert len(rows) == 4
    assert rows[(1, "GOLD")]["is_current"] is False
    assert rows[(1, "GOLD")]["owner"] == "alice"
    assert rows[(1, "PLATINUM")]["is_current"] is True
    assert rows[(1, "PLATINUM")]["owner"] == "alice"  # carried over
    assert rows[(2, "IRON")]["valid_to"] == d_close  # history untouched
    reopened = rows[(2, "STEEL")]
    assert reopened["is_current"] is True
    assert reopened["valid_from"] == d1
    assert reopened["owner"] is None  # no source row to copy from


def test_k_core_known_graph(spark):
    """4-clique + chain to a triangle: the 3-core is exactly the clique
    (triangle members have degree 2 and peel away with the chain); the
    2-core is the whole graph (every node has degree ≥ 2)."""
    from datapipelinerepo_spark.operators.graph import k_core

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),  # 4-clique
         (4, 5), (5, 6),                                   # chain
         (6, 7), (6, 8), (7, 8)],                          # triangle
        "id_a long, id_b long",
    )
    core3 = {r["node"]: r["degree"] for r in k_core(edges, k=3).collect()}
    assert core3 == {1: 3, 2: 3, 3: 3, 4: 3}
    core2 = {r["node"] for r in k_core(edges, k=2).collect()}
    assert core2 == {1, 2, 3, 4, 5, 6, 7, 8}
    assert k_core(edges, k=5).count() == 0


def test_label_propagation_barbell(spark):
    """Two triangles joined by a bridge: 4 synchronous rounds of
    most-frequent-neighbor-label (min on ties) converge to one label
    per triangle — hand-computed fixed point, pinning the exact round
    rule the registered query's recursive-CTE oracle replays."""
    from datapipelinerepo_spark.operators.graph import label_propagation

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5), (4, 6), (5, 6)],
        "id_a long, id_b long",
    )
    out = {r["node"]: r["label"] for r in label_propagation(edges, iters=4).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 3, 5: 3, 6: 3}


def test_cdc_apply_semantics(spark):
    """CDC latest-wins: newest change per key wins; 'D' deletes;
    unseen keys insert; untouched base rows pass through; same-seq
    ties prefer the delete."""
    from datapipelinerepo_spark.operators.relational import cdc_apply

    base = spark.createDataFrame(
        [(1, 10.0, "A"), (2, 20.0, "B"), (3, 30.0, "C"), (4, 40.0, "D")],
        ["k", "price", "status"],
    )
    changes = spark.createDataFrame(
        [
            (1, 1, "U", 11.0, "A1"),   # stale update...
            (1, 2, "U", 12.0, "A2"),   # ...newest wins
            (2, 1, "D", 0.0, "X"),     # delete key 2
            (3, 5, "U", 33.0, "C3"),   # plain update
            (3, 5, "D", 0.0, "X"),     # same seq: delete preferred
            (9, 1, "U", 99.0, "NEW"),  # insert unseen key
        ],
        ["k", "seq", "op", "price", "status"],
    )
    out = {r["k"]: r for r in cdc_apply(base, changes, key="k", seq_col="seq").collect()}
    assert set(out) == {1, 4, 9}
    assert out[1]["price"] == 12.0 and out[1]["status"] == "A2"
    assert out[4]["price"] == 40.0 and out[4]["status"] == "D"  # passthrough
    assert out[9]["price"] == 99.0 and out[9]["status"] == "NEW"


def test_cdc_apply_rejects_bad_op(spark):
    """NULL or unknown op values fail fast (ADVICE r4) instead of
    silently upserting an all-NULL payload for unseen keys."""
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    from datapipelinerepo_spark.operators.relational import cdc_apply

    base = spark.createDataFrame([(1, 10.0)], ["k", "price"])
    changes = spark.createDataFrame(
        [(2, 1, None, 5.0)], "k int, seq int, op string, price double"
    )
    with pytest.raises((Py4JJavaError, PySparkException), match="I/U/D"):
        cdc_apply(base, changes, key="k", seq_col="seq").collect()


def test_cdc_apply_duplicate_change_rows_deterministic(spark):
    """Duplicate (key, seq, op) rows with different payloads have a
    DETERMINISTIC winner (payload-value tie-break, ADVICE r4): the same
    result at any parallelism and on replay."""
    from datapipelinerepo_spark.operators.relational import cdc_apply

    base = spark.createDataFrame([(1, 0.0, "Z")], ["k", "price", "status"])
    dup = [(1, 7, "U", 99.0, "B"), (1, 7, "U", 11.0, "A"), (1, 7, "U", 11.0, "AA")]
    outs = []
    for nparts in (1, 7):
        changes = spark.createDataFrame(dup, ["k", "seq", "op", "price", "status"]).repartition(nparts)
        outs.append(
            tuple(cdc_apply(base, changes, key="k", seq_col="seq").collect()[0])
        )
    assert outs[0] == outs[1] == (1, 11.0, "A")


def test_cdc_apply_idempotent_replay(spark):
    """Re-applying the same change stream to the merged result is a
    no-op (exactly-once replay safety for at-least-once CDC feeds)."""
    from datapipelinerepo_spark.operators.relational import cdc_apply

    base = spark.createDataFrame(
        [(i, float(i), "S") for i in range(20)], ["k", "price", "status"]
    )
    changes = spark.createDataFrame(
        [(i, 1, "D" if i % 5 == 0 else "U", i * 2.0, "T") for i in range(0, 20, 2)],
        ["k", "seq", "op", "price", "status"],
    )
    once = cdc_apply(base, changes, key="k", seq_col="seq")
    twice = cdc_apply(once, changes, key="k", seq_col="seq")
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


def test_bfs_distances_known_graph(spark):
    """Path graph 1-2-3-4-5 plus isolated edge 8-9: distances from
    source {1} are hop counts, capped at max_depth; unreachable nodes
    are absent."""
    from datapipelinerepo_spark.operators.graph import bfs_distances

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (8, 9)], ["id_a", "id_b"]
    )
    srcs = spark.createDataFrame([(1,)], ["node"])
    out = {r["node"]: r["dist"] for r in bfs_distances(edges, srcs, max_depth=3).collect()}
    assert out == {1: 0, 2: 1, 3: 2, 4: 3}  # 5 is beyond depth, 8/9 unreachable


def test_bfs_distances_multi_source_min(spark):
    """Two sources: every node gets the MIN distance over sources."""
    from datapipelinerepo_spark.operators.graph import bfs_distances

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], ["id_a", "id_b"]
    )
    srcs = spark.createDataFrame([(1,), (5,)], ["node"])
    out = {r["node"]: r["dist"] for r in bfs_distances(edges, srcs, max_depth=3).collect()}
    assert out == {1: 0, 5: 0, 2: 1, 4: 1, 3: 2}


def test_centroid_outliers_planted(spark):
    """A vector pointing away from its group's tight centroid flags as
    the outlier; aligned vectors don't."""
    from datapipelinerepo_spark.operators.similarity import centroid_outliers

    aligned = [[1.0, 0.1 * i, 0.0, 0.0] for i in range(5)]
    rows = [(i, 0, v) for i, v in enumerate(aligned)] + [
        (99, 0, [-1.0, 0.0, 0.0, 0.0])
    ]
    df = spark.createDataFrame(rows, ["vec_id", "label", "embedding"])
    out = {r["vec_id"]: r for r in centroid_outliers(df).collect()}
    assert out[99]["is_outlier"] and out[99]["cos_centroid"] < 0
    assert not out[0]["is_outlier"]


def test_centroid_outliers_partitioning_invariant(spark):
    """Integer-quantized centroid sums: identical output at 1 and 7
    partitions (no float-sum ordering)."""
    from datapipelinerepo_spark.operators.similarity import centroid_outliers

    rows = [
        (i, i % 3, [((i * 37 + d * 11) % 19 - 9) / 7.0 for d in range(8)])
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "label", "embedding"])
    a = sorted(map(tuple, centroid_outliers(df.coalesce(1)).collect()))
    b = sorted(map(tuple, centroid_outliers(df.repartition(7)).collect()))
    assert a == b


def test_length_buckets_accounting(spark):
    """Bucket assignment and padding arithmetic on hand-computable
    docs, including the overflow bucket."""
    from datapipelinerepo_spark.operators.sampling import length_buckets

    rows = [
        (1, "a b c"),                      # 3 tokens -> cap 64
        (2, " ".join(["t"] * 64)),         # 64 -> cap 64 (boundary)
        (3, " ".join(["t"] * 65)),         # 65 -> cap 128
        (4, " ".join(["t"] * 2000)),       # overflow -> cap -1
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["bucket_cap"]: r for r in length_buckets(df).collect()}
    assert out[64]["n_docs"] == 2 and out[64]["sum_tokens"] == 67
    assert out[64]["pad_fixed"] == 64 * 2 - 67
    assert out[128]["n_docs"] == 1 and out[128]["pad_fixed"] == 63
    # overflow bucket: fixed cap falls back to the bucket max (dynamic)
    assert out[-1]["pad_fixed"] == out[-1]["pad_dynamic"] == 0


def test_new_ops_empty_inputs(spark):
    """Empty frames flow through the round-4 operators without
    crashing: BFS with no sources, CDC with no changes, buckets/spans
    on an empty corpus."""
    from datapipelinerepo_spark.operators.graph import bfs_distances
    from datapipelinerepo_spark.operators.relational import cdc_apply
    from datapipelinerepo_spark.operators.sampling import length_buckets
    from datapipelinerepo_spark.operators.text import (
        duplicated_span_stats,
        longest_dup_span,
    )

    edges = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
    no_src = spark.createDataFrame([], "node long")
    assert bfs_distances(edges, no_src).count() == 0

    base = spark.createDataFrame([(1, 10.0, "A")], ["k", "price", "status"])
    no_ch = spark.createDataFrame([], "k long, seq long, op string, price double, status string")
    out = cdc_apply(base, no_ch, key="k", seq_col="seq")
    assert [tuple(r) for r in out.collect()] == [(1, 10.0, "A")]

    no_docs = spark.createDataFrame([], "doc_id long, text string")
    assert length_buckets(no_docs).count() == 0
    assert duplicated_span_stats(no_docs).count() == 0
    assert longest_dup_span(no_docs).count() == 0


def test_centroid_outliers_null_embeddings_excluded(spark):
    """NULL embeddings neither poison the centroid nor appear as NULL
    score rows."""
    from pyspark.sql.types import (
        ArrayType, DoubleType, LongType, IntegerType, StructField, StructType,
    )
    from datapipelinerepo_spark.operators.similarity import centroid_outliers

    schema = StructType([
        StructField("vec_id", LongType()),
        StructField("label", IntegerType()),
        StructField("embedding", ArrayType(DoubleType())),
    ])
    rows = [(1, 0, [1.0, 0.0]), (2, 0, [0.9, 0.1]), (3, 0, None)]
    out = centroid_outliers(spark.createDataFrame(rows, schema)).collect()
    ids = {r["vec_id"] for r in out}
    assert ids == {1, 2}
    assert all(r["cos_centroid"] is not None for r in out)


def test_asof_join_null_values_and_null_timestamps(spark):
    """Row-atomic ASOF semantics (code-review r6): a NULL in the newest
    matching right row is returned as NULL (not a stale older value),
    multiple value columns come from the SAME right row, NULL right
    timestamps match nothing, and a NULL left timestamp gets no match."""
    from datapipelinerepo_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, "k", 3), (2, "k", None), (3, "n", 5)], ["lid", "k", "ts"]
    )
    right = spark.createDataFrame(
        [
            ("k", 1, 5.0, "old"),
            ("k", 2, None, "new"),   # newest match: v is genuinely NULL
            ("n", None, 99.0, "x"),  # NULL ts: matches nothing
        ],
        ["k", "ts", "v", "tag"],
    )
    got = {
        r["lid"]: (r["v"], r["tag"])
        for r in asof_join(
            left, right, key="k", left_ts="ts", right_ts="ts"
        ).collect()
    }
    # the newest row (ts=2) wins WHOLE: v=NULL and tag='new' together —
    # not v=5.0 carried from ts=1 beside tag='new'
    assert got[1] == (None, "new")
    assert got[2] == (None, None)   # NULL left ts: no prior row
    assert got[3] == (None, None)   # only right row has NULL ts


def test_range_join_multiplicity_and_dirty_intervals(spark):
    """The binned range join preserves naive-BETWEEN multiplicity
    (duplicate point rows match twice; distinct intervals sharing
    (key, start) both match), drops inverted intervals as containing
    nothing, and fails loudly on an interval whose span would explode
    the bin sequence (code-review r6)."""
    import pytest as _pytest

    from datapipelinerepo_spark.operators.rangejoin import interval_join_binned

    pts = spark.createDataFrame(
        [("k", "2026-01-01 10:00:00"), ("k", "2026-01-01 10:00:00")],
        ["k", "ts"],
    ).selectExpr("k", "cast(ts as timestamp) ts")
    iv = spark.createDataFrame(
        [
            ("k", "2026-01-01 09:00:00", "2026-01-01 11:00:00", "a"),
            ("k", "2026-01-01 09:00:00", "2026-01-01 12:00:00", "b"),
            ("k", "2026-01-01 11:00:00", "2026-01-01 09:00:00", "inv"),
        ],
        ["k", "s", "e", "tag"],
    ).selectExpr("k", "cast(s as timestamp) s", "cast(e as timestamp) e", "tag")
    got = interval_join_binned(pts, iv, key="k", point_ts="ts", start_ts="s", end_ts="e")
    # 2 duplicate points x 2 containing intervals = 4 rows; the
    # inverted interval contributes none
    rows = got.collect()
    assert len(rows) == 4
    assert sorted(r["tag"] for r in rows) == ["a", "a", "b", "b"]

    huge = spark.createDataFrame(
        [("k", "2026-01-01 00:00:00", "9999-12-31 00:00:00", "dirty")],
        ["k", "s", "e", "tag"],
    ).selectExpr("k", "cast(s as timestamp) s", "cast(e as timestamp) e", "tag")
    with _pytest.raises(Exception, match="spans more than"):
        interval_join_binned(
            pts, huge, key="k", point_ts="ts", start_ts="s", end_ts="e"
        ).collect()


def test_salted_count_fans_out_duplicate_rows(spark):
    """Content-hash salting sent identical duplicate rows to ONE bucket
    — zero fan-out in the degenerate hot-key case (code-review r6).
    The per-row salt must spread them while the final count is exact."""
    from datapipelinerepo_spark.operators.skew import salted_count_by_key

    hot = spark.createDataFrame([("hot",)] * 4000, ["k"]).repartition(8)
    out = salted_count_by_key(hot, "k", salt_buckets=16)
    assert out.first()["n_rows"] == 4000
    salted = hot.withColumn(
        "_s", F.pmod(F.monotonically_increasing_id(), F.lit(16))
    )
    assert salted.select("_s").distinct().count() > 1


def test_asof_join_calendarinterval_value_column(spark):
    """Code-review r7: CalendarIntervalType (make_interval) is also
    unorderable — it must ride as payload, not in the tie-break."""
    from datapipelinerepo_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, "k", 10)], ["lid", "k", "ts"])
    right = spark.createDataFrame(
        [("k", 5, 1.0)], "k string, ts long, v double"
    ).withColumn("iv", F.expr("make_interval(0, 2, 0, 3, 0, 0, 0)"))
    out = asof_join(left, right, key="k", left_ts="ts", right_ts="ts")
    # (PySpark can't ship CalendarInterval VALUES to Python — inspect
    # it in-plan: carried non-null, and stringifies to the interval)
    rows = out.select(
        "v", F.col("iv").isNotNull().alias("has_iv"), F.col("iv").cast("string").alias("iv_s")
    ).collect()
    assert rows[0]["v"] == 1.0 and rows[0]["has_iv"]
    assert "2 months" in rows[0]["iv_s"]
