"""q182 incremental dedup: the plan pin that makes it INCREMENTAL
(corpus lane = scan→agg→explode, no join — VERDICT r5 item 3's
"audit-pinned" requirement) plus a semantic cross-check against
q118's already-oracle-checked full-corpus candidate pairs."""

from __future__ import annotations

import re

from tests.conftest import SF_SMALL


def _explain(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def test_corpus_lane_is_scan_agg_only(spark):
    """The corpus side must be readable as a persisted signature
    index: its plan may scan, aggregate, and explode — never join.
    (A join on the corpus lane would mean per-batch corpus
    recomputation beyond the index build, defeating the operator.)"""
    from hearthstats_spark.queries.pipeline_ext3 import (
        _band_table, _signatures,
    )

    plan = _explain(_band_table(_signatures(spark, SF_SMALL, batch=False)))
    tree = plan.split("\n\n")[0]
    assert not re.search(r"Join|CartesianProduct", tree), tree
    assert "Scan parquet" in tree and "HashAggregate" in tree
    assert "Generate" in tree  # the constant ×8 band explode


def test_incremental_matches_full_corpus_pairs(spark, registry):
    """Consistency with the backfill lane: a batch doc must be
    DROPPED by q182 exactly when q118's full-corpus candidate pairs
    contain a cross-slice pair for it with n_match ≥ 8, and
    n_match_best must equal the max over those pairs (both lanes
    share one signature/banding definition, so this is an identity,
    not an approximation)."""
    from hearthstats_spark.queries.pipeline_ext3 import (
        _BATCH_MOD, _DROP_AT,
    )

    q182 = {r["doc_id"]: r for r in
            registry["q182_dedup_incremental"].fn(spark, SF_SMALL).collect()}
    pairs = registry["q118_dedup_minhash_exact"].fn(spark, SF_SMALL).collect()

    best: dict[int, int] = {}
    n_cand: dict[int, int] = {}
    for p in pairs:
        a_batch = p["id_a"] % _BATCH_MOD == 0
        b_batch = p["id_b"] % _BATCH_MOD == 0
        if a_batch == b_batch:
            continue  # within-slice pair: invisible to the screen
        new_id = p["id_a"] if a_batch else p["id_b"]
        best[new_id] = max(best.get(new_id, 0), p["n_match"])
        n_cand[new_id] = n_cand.get(new_id, 0) + 1

    assert q182, "q182 returned no batch rows"
    for doc_id, row in q182.items():
        assert row["n_match_best"] == best.get(doc_id, 0), doc_id
        assert row["n_candidates"] == n_cand.get(doc_id, 0), doc_id
        assert row["kept"] == int(best.get(doc_id, 0) < _DROP_AT), doc_id
    # every flagged batch doc appears in q182's output exactly once
    assert set(best) <= set(q182)


def test_every_batch_doc_emits_one_row(spark, registry):
    from hearthstats_spark.io import load_table
    from hearthstats_spark.queries.pipeline_ext3 import _BATCH_MOD

    d = load_table(spark, SF_SMALL, "documents")
    n_batch = d.filter(
        d.text.isNotNull() & (d.doc_id % _BATCH_MOD == 0)).count()
    out = registry["q182_dedup_incremental"].fn(spark, SF_SMALL)
    assert out.count() == n_batch
    assert out.select("doc_id").distinct().count() == n_batch


def test_q182_partition_count_independent(spark, registry):
    """The screen's outputs (integer match counts, exact decimal
    aggregation) must be identical under different parallelism —
    the property that makes the incremental screen's decisions
    reproducible from local[4] to 1000 executors."""
    fn = registry["q182_dedup_incremental"].fn
    base = {r["doc_id"]: tuple(r) for r in fn(spark, SF_SMALL).collect()}
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        alt = {r["doc_id"]: tuple(r) for r in fn(spark, SF_SMALL).collect()}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert base == alt


def test_q197_leakage_classes_and_bounds(spark, registry):
    """Every row is a cross-split class; confirmed <= candidates;
    leaked eval docs <= confirmed pairs; and the class totals agree
    with q118's corpus-wide candidate table filtered by the split
    expression (composition identity)."""
    from pyspark.sql import functions as F

    rows = registry["q197_split_leakage"].fn(spark, SF_SMALL).collect()
    assert rows
    valid = {"train-val", "train-test", "val-test"}
    for r in rows:
        assert r["pair_class"] in valid
        assert 0 <= r["n_confirmed_pairs"] <= r["n_candidate_pairs"]
        assert r["n_leaked_eval_docs"] <= max(r["n_confirmed_pairs"], 1)
    from hearthstats_spark.queries.pipeline_ext3 import _split_of
    q118 = registry["q118_dedup_minhash_exact"].fn(spark, SF_SMALL)
    cross = (q118.select(_split_of("id_a").alias("sa"),
                         _split_of("id_b").alias("sb"))
             .filter(F.col("sa") != F.col("sb")).count())
    assert cross == sum(r["n_candidate_pairs"] for r in rows)


def test_q199_funnel_monotone(spark, registry):
    """Funnel accounting: raw >= gated >= deduped in both docs and
    tokens; the three split rows partition the deduped stage
    exactly."""
    rows = {r["stage"]: r for r in
            registry["q199_quality_gate_funnel"].fn(
                spark, SF_SMALL).collect()}
    assert set(rows) == {"raw", "gated", "deduped",
                         "train", "val", "test"}
    for col in ("n_docs", "sum_tokens"):
        assert (rows["raw"][col] >= rows["gated"][col]
                >= rows["deduped"][col] > 0)
        assert (rows["train"][col] + rows["val"][col]
                + rows["test"][col]) == rows["deduped"][col]


def test_q94_ui_materialization_single_exchange_and_layout(spark, registry):
    """q94's r12 materialization contract (VERDICT r11 item 5):

    - repartition(user_id) BEFORE distinct lets the planner satisfy
      the (user_id, item) dedup clustering with hash(user_id), so
      the ui build pays exactly ONE exchange (the r11 form paid two:
      distinct's hash(user_id, item) + the checkpoint repartition);
    - checkpoint_preserving keeps hash(user_id), so the self-join on
      user_id reads both sides in place — ZERO join exchanges;
    - cnt rides checkpoint_preserving too (a .cache() over a frame
      derived from a localCheckpoint is re-instanced by relation
      dedup and silently never substitutes — q108's measured
      failure), keeping hash(item) for the ca/cb attach joins.

    The registry-built q94 frame is pinned too, so drift in q94
    itself (not only in this mirror of its shape) fails the test.
    """
    from pyspark.sql import functions as F

    from hearthstats_spark.operators.graph import checkpoint_preserving

    base = spark.range(0, 3000).select(
        (F.col("id") % 200).alias("user_id"),
        ((F.col("id") * 13) % 37).alias("item"))
    build = base.repartition(8, "user_id").distinct()
    build_plan = build._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Exchange hashpartitioning", build_plan)) == 1

    # checkpoint a FRESH frame: forcing executedPlan() above planned
    # `build` under AQE, which erases the layout the checkpoint must
    # capture (exactly the trap checkpoint_preserving's AQE-off
    # window exists for — q94 never pre-plans its frame)
    ui = checkpoint_preserving(base.repartition(8, "user_id").distinct())
    part = str(ui._jdf.queryExecution().executedPlan()
               .outputPartitioning())
    assert "hashpartitioning" in part and "user_id#" in part

    a, b = ui.alias("a"), ui.alias("b")
    co = (a.join(b, (F.col("a.user_id") == F.col("b.user_id"))
                 & (F.col("a.item") < F.col("b.item")))
          .select(F.col("a.item").alias("item_a"),
                  F.col("b.item").alias("item_b")))
    join_plan = co._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in join_plan

    cnt = checkpoint_preserving(
        ui.groupBy("item").agg(F.count(F.lit(1)).alias("n")))
    cnt_part = str(cnt._jdf.queryExecution().executedPlan()
                   .outputPartitioning())
    assert "hashpartitioning" in cnt_part and "item#" in cnt_part
    # and the materialized dedup really is a distinct
    assert ui.count() == base.distinct().count()

    # q94 as registered, broadcast lane off (the shape at scale): the
    # self-join and both cnt attach joins read their checkpointed
    # layouts in place, so the plan holds exactly three exchanges —
    # the pair groupBy's and co's re-keys to item_a and item_b — and
    # none on user_id
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        q94 = registry["q94_item_cooccur"].fn(spark, SF_SMALL)
        q94_plan = q94._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    assert len(re.findall(r"Exchange", q94_plan)) == 3, q94_plan
    assert not re.search(r"Exchange hashpartitioning\(user_id", q94_plan), \
        q94_plan
