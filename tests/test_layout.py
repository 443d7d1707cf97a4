"""Layout-policy plan proofs (SURVEY.md §4.2 'for 100 TB layout'):
time-partitioned facts must prune directories at plan time; bucketed
copies must join with zero exchange. These are THE two levers that
keep the engine's join/scan cost sublinear in table size at cluster
scale, so their plan shapes are pinned here.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from hearthstats_spark.io import load_table
from hearthstats_spark.plans import explain_str
from hearthstats_spark.sources.layout import (
    read_partitioned,
    write_bucketed,
    write_time_partitioned,
)
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def partitioned_orders(spark, tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("layout"))
    orders = load_table(spark, SF_SMALL, "orders")
    write_time_partitioned(orders, tmp, "o_orderdate", "month")
    return tmp, orders


def test_partition_pruning_prunes_directories(spark, partitioned_orders):
    path, orders = partitioned_orders
    df = read_partitioned(spark, path).filter(
        F.col("p_month") == "1996-03-01")
    p = explain_str(df)
    assert "PartitionFilters" in p and "p_month" in p
    # correctness: pruned read equals a full-scan filter
    want = orders.filter(
        (F.col("o_orderdate") >= "1996-03-01")
        & (F.col("o_orderdate") < "1996-04-01")).count()
    assert df.count() == want
    assert want > 0


def test_dynamic_partition_pruning_fires(spark, partitioned_orders):
    """Fact partitioned by month ⋈ filtered month-dim: the fact scan
    must carry a dynamicpruning subquery — at 100 TB this is what
    turns a dim-filtered star join into a read of only the matching
    fact partitions (plan-time pruning can't see the dim filter)."""
    path, orders = partitioned_orders
    fact = read_partitioned(spark, path)
    dim = (orders.select(
        F.date_format(F.date_trunc("month", "o_orderdate"),
                      "yyyy-MM-dd").alias("p_month")).distinct()
        .filter(F.col("p_month").startswith("1996")))
    joined = fact.join(dim, "p_month")
    assert "dynamicpruning" in explain_str(joined).lower()
    want = orders.filter(F.col("o_orderdate").between(
        "1996-01-01", "1996-12-31 23:59:59")).count()
    assert joined.count() == want > 0


def test_bucketed_join_has_no_exchange(spark):
    """orders ⋈ lineitem both bucketed by orderkey: the sort-merge
    join must read SelectedBucketsCount and shuffle NOTHING."""
    o = load_table(spark, SF_SMALL, "orders")
    li = load_table(spark, SF_SMALL, "lineitem")
    write_bucketed(o.withColumnRenamed("o_orderkey", "k"), "t_orders_b",
                   ["k"], 8, sort_cols=["k"])
    write_bucketed(li.withColumnRenamed("l_orderkey", "k"), "t_lineitem_b",
                   ["k"], 8, sort_cols=["k"])
    try:
        ob = spark.table("t_orders_b")
        lb = spark.table("t_lineitem_b")
        # force the join lane bucketing optimizes (not broadcast)
        thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = ob.join(lb, "k").select("k", "o_totalprice",
                                             "l_quantity")
            p = explain_str(joined)
            assert re.search(r"SelectedBucketsCount: 8 out of 8", p)
            assert "Exchange" not in p  # the whole point of bucketing
            assert joined.count() == li.count()  # FK integrity holds
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_bucketed_triangle_census_wedge_join_bucket_local(spark):
    """The q98 cluster lane (VERDICT r3 item 4): with the oriented
    (src, dst, d_dst) edge frame persisted bucketed+sorted by src,
    triangle_census's wedge self-join reads BOTH sides straight from
    buckets (SelectedBucketsCount, no edge-sized Exchange under the
    self-join); the only hash Exchange left in the whole census is
    the wedge frame meeting yz's src layout. Count must equal the
    checkpoint-lane kernel exactly."""
    from hearthstats_spark.operators.graph import (
        checkpoint_partitioned, triangle_census)
    from hearthstats_spark.queries.analytics_ext import co_order_edges

    e = co_order_edges(spark, SF_SMALL).localCheckpoint()
    deg = (e.select(F.col("a").alias("v"))
           .unionAll(e.select(F.col("b").alias("v")))
           .groupBy("v").agg(F.count(F.lit(1)).alias("d")))
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("db"))
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
    oriented = (
        e.join(F.broadcast(da), "a").join(F.broadcast(db), "b")
        .select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
            F.when(a_first, F.col("db")).otherwise(F.col("da"))
            .alias("d_dst")))

    write_bucketed(oriented, "t_tri_edges_b", ["src"], 8,
                   sort_cols=["src"])
    try:
        ob = spark.table("t_tri_edges_b")
        thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            tri = triangle_census(ob)
            p = explain_str(tri, "simple")
            assert "SelectedBucketsCount: 8 out of 8" in p
            # ZERO hash exchanges since the round-12 bounded-broadcast
            # closing probe: the EDGE-sized pk projection broadcasts
            # (runtime limit-probe, cap enforced), so the
            # ~100×-edge-count wedge frame never exchanges at all and
            # the wedge SELF-join still reads both sides straight
            # from buckets. Past the cap the guard declines and the
            # round-10 two-exchange packed-key form returns.
            assert len(re.findall(r"Exchange hashpartitioning", p)) == 0
            assert "BroadcastHashJoin" in p

            want = triangle_census(
                checkpoint_partitioned(oriented, ["src"], 8)
            ).collect()[0]["n_triangles"]
            assert tri.collect()[0]["n_triangles"] == want > 0
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_tri_edges_b")


def test_checkpoint_partitioned_preserves_layout(spark):
    """checkpoint_partitioned must carry HashPartitioning through the
    localCheckpoint (under AQE a plain repartition+localCheckpoint
    reports UnknownPartitioning and every downstream join re-shuffles)
    and must restore the AQE flag."""
    from hearthstats_spark.operators.graph import checkpoint_partitioned

    df = spark.range(10_000).select(
        (F.col("id") % 97).alias("k"), F.col("id").alias("v"))
    ck = checkpoint_partitioned(df, ["k"], 8)
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    part = str(ck._jdf.queryExecution().executedPlan().outputPartitioning())
    assert "hashpartitioning" in part and "k#" in part

    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = ck.alias("a").join(ck.alias("b"),
                               F.col("a.k") == F.col("b.k"))
        p = explain_str(j, "simple")
        assert "Exchange hashpartitioning" not in p
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)


def test_bucketed_pagerank_iteration_edge_side_shuffle_free(spark):
    """The q108 docstring's cluster lane, proven: with the (src, dst,
    d) edge frame persisted bucketed+sorted by src, each PageRank
    iteration's rank⋈edge join reads the edge side straight from
    buckets — the only Exchange left in the join is the node-sized
    rank frame, and ranks match the checkpoint-lane kernel exactly."""
    from hearthstats_spark.queries.analytics_ext import co_order_edges
    from hearthstats_spark.queries.analytics_ext2 import pagerank_loop

    e = co_order_edges(spark, SF_SMALL)
    u = (e.select(F.col("a").alias("src"), F.col("b").alias("dst"))
         .unionAll(e.select(F.col("b").alias("src"),
                            F.col("a").alias("dst"))))
    deg = u.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    ud = u.join(deg, "src")
    # materialize the node frame so the join plan below shows only
    # the per-iteration work, not the edge-builder lineage
    nodes = deg.select(F.col("src").alias("node")).localCheckpoint()

    write_bucketed(ud, "t_edges_b", ["src"], 8, sort_cols=["src"])
    try:
        udb = spark.table("t_edges_b")
        thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            ranks = nodes.select("node", F.lit(1.0).alias("rank"))
            joined = udb.join(ranks, udb["src"] == ranks["node"])
            p = explain_str(joined, "simple")
            assert "SelectedBucketsCount: 8 out of 8" in p
            # exactly ONE exchange: the rank side. The edge side must
            # read from buckets with no shuffle above its scan.
            assert len(re.findall(r"Exchange hashpartitioning", p)) == 1
            assert "t_edges_b" in p

            got = {(r["node"], round(r["rank"], 4))
                   for r in pagerank_loop(udb, nodes, 2).collect()}
            want = {(r["node"], round(r["rank"], 4))
                    for r in pagerank_loop(ud.localCheckpoint(),
                                           nodes, 2).collect()}
            assert got == want and len(got) > 0
            # round-12 split lane (q108's in-query form): edges-only
            # frame + node-sized deg — floor(rank/d·1e12) is the same
            # IEEE product per src either way, so ranks must be
            # BIT-identical to the d-carrying lane (no rounding here:
            # the raw doubles are compared)
            split = {(r["node"], r["rank"])
                     for r in pagerank_loop(
                         u.localCheckpoint(), nodes, 2,
                         deg=deg.localCheckpoint()).collect()}
            exact = {(r["node"], r["rank"])
                     for r in pagerank_loop(ud.localCheckpoint(),
                                            nodes, 2).collect()}
            assert split == exact
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_edges_b")
