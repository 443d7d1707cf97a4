"""Registry-wide plan audit: no query may regress into a plan shape
that dies at scale. Catches the silent killers — a join predicate
typo that turns a hash join into a nested-loop product still returns
correct-looking rows at sf0.01 and runs forever at 100 TB.

Current audited state (pinned): only q14 (the explicit cross join)
and q56 (1-row min-lang fallback scalar broadcast — the dense
doc × language grid died in optimization round 11) contain a
nested-loop join; only q44 (the deliberate row-at-a-time UDF demo)
touches BatchEvalPython; nothing contains CartesianProduct.
"""

from __future__ import annotations

from hearthstats_spark.plans import explain_str
from tests.conftest import SF_MED

#: q53 cross-joins a 1-row broadcast scalar (n_docs) into the weight
#: expression and q82 combines three 1-row stage counts — the
#: scalar-subquery shape, not a pair-space nested loop.
#: (q92 cross-joins its 1-row N/avgdl stats frame the same way.)
#: q97 cross-joins the exploded hour spine with the distinct
#: event-type dimension — both metadata-sized at any data scale;
#: q98 cross-joins three single-row summary aggregates (q82's shape);
#: q101 broadcasts the k=8 centroid rows against every vector (the
#: k-fan-out IS the k-means assignment step).
#: q102 rides its 1-row Bloom bitmap onto the probe scan with a
#: broadcast cross join (the runtime-filter materialization itself);
#: q107 does the same for its 1-row total-count frame (q53's
#: scalar-subquery shape).
NESTED_LOOP_OK = {"q14_join_cross", "q56_text_langid", "q53_text_tfidf",
                  "q82_funnel_steps", "q92_bm25_topk", "q97_gap_fill",
                  "q98_triangle_count", "q101_kmeans_assign",
                  "q102_join_bloom_prune", "q107_heavy_hitters",
                  "q116_decile_lift",  # 1-row grand-total frame
                  # q122 rides its 1-row (min, width) stats frame and
                  # q126 its 1-row snapshot-date frame onto the scan —
                  # the scalar-subquery broadcast shape (q53's)
                  "q122_histogram_price", "q126_backlog_age",
                  # q133 rides its 1-row digit-total frame onto the
                  # 9-row digit counts — the same scalar shape
                  "q133_benford_digits",
                  # q157 rides its 1-row total-order-count frame onto
                  # the pair counts (q107's scalar shape)
                  "q157_basket_lift",
                  # q164 fans doc ids out over the 8-row broadcast
                  # shard frame (q101's bounded-k fan-out shape)
                  "q164_shard_rendezvous",
                  # q165 composes q56, inheriting its 1-row
                  # min-lang fallback scalar join (allowlisted there;
                  # the dense langs fan-out died in opt round 11)
                  "q165_eval_confusion_metrics",
                  # q169 rides its 1-row grand-total and 1-row
                  # shortfall frames onto group-cardinality rows
                  # (q53's scalar-subquery broadcast shape)
                  "q169_largest_remainder_alloc",
                  # q171 rides its 1-row grand-total frame onto the
                  # <=31-row rollup levels (same scalar shape)
                  "q171_share_of_parent",
                  # q173 rides its 1-row token-totals frame onto the
                  # vocabulary counts (q107's scalar shape)
                  "q173_token_drift_tv",
                  # q177 (round 10) joins its 1-row exact-KS twin
                  # with the 1-row sketch-bounds frame — a literal
                  # 1×1 scalar join (q53's scalar-subquery shape)
                  "q177_ks_sketch_drift",
                  # q187's M=1 quantizer makes the codebook join key
                  # the literal 0 on both sides; Catalyst folds the
                  # equi-condition away, so the ≤16-row runtime-guarded
                  # codebook broadcast degenerates to a nested loop —
                  # the bounded-k fan-out shape (q101's)
                  "q187_ann_ivf_kmeans",
                  # q189 rides its 1-row winning-pair frame onto the
                  # vocabulary (q53's scalar-subquery broadcast shape)
                  "q189_bpe_merge_apply"}
#: q81 is the native Python UDTF demo (BatchEvalPythonUDTF) — the
#: documented slow lane, same policy as q44's scalar UDF.
PYTHON_ROW_OK = {"q44_udf_python", "q81_udtf_lateral"}

#: Queries allowed to FORCE-broadcast a frame whose lineage touches a
#: fact-scale table (VERDICT r4 #1: `F.broadcast` is never demoted by
#: AQE, so a hint on an SF-linear frame OOMs at the 100 TB design
#: point). Every entry here is bounded BY CONSTRUCTION — a property
#: the textual plan can't prove (rank filters, enum-valued group
#: keys, constant-selective predicates), so each carries its bound:
FORCED_BROADCAST_OK = {
    # Static allowlist — ONLY bounds visible by construction in the
    # query's own geometry (VERDICT r5 item 4 shrank this from 11
    # entries to 4: q56/q165/q91/q92 now route every fact-frame hint
    # through operators/bounded.broadcast_bounded, whose limit-probe
    # ENFORCES the bound at build time and is credited below via
    # GUARDED_SITES; q61/q87/q85's probe frames are recognized by
    # the detector's pushed-LessThan-on-key rule; q165's former
    # subplan-duplication entry died in round 7 when its preds frame
    # was cached — q56's two guarded hints now appear once and the
    # guard-site credit covers them).
    # k=8 centroid frame (groupBy on a pmod-k key: ≤ k rows)
    "q101_kmeans_assign": 1,
    # misra-gries candidate set: ≤ partitions/s rows by the sketch's
    # own space bound (operators/heavyhitters.py)
    "q107_heavy_hitters": 1,
    # per-event_type median/MAD frames: event_type is an enum
    # (~5 values), not SF-linear (3 sites: med, mad ×2 branches)
    "q110_mad_outliers": 3,
    # CMS sketch cells: groupBy (depth j, bucket b) ≤ d·w rows by
    # the sketch's fixed geometry
    "q139_sketch_cms": 1,
    # round 10: the rank-check pass broadcasts the rollup result —
    # o_orderpriority is an enum (~5 values), so the frame is
    # ≤ 2·|enum|+1 rows at any raw scale (q110's enum-key bound)
    "q140_sketch_quantile_rollup": 1,
}


def forced_broadcast_offenses(plan: str) -> list[str]:
    """BroadcastExchange nodes in a formatted plan that broadcast a
    frame scanning a fact-scale table without a bounding aggregation.

    Caller contract: explain with BOTH auto-broadcast thresholds set
    to -1, so every surviving BroadcastExchange is a forced
    ``F.broadcast``/hint — except inside InMemoryRelation subtrees,
    whose physical plans were compiled when ``.cache()`` ran (under
    the session's normal conf): those are auto decisions and are NOT
    counted as offense candidates (but their leaves still count as
    sources when they feed an OUTER forced broadcast).

    Bounded shapes the text can prove: keyless aggregate
    (``Keys: []`` → ≤1 row), GlobalLimit/CollectLimit/
    TakeOrderedAndProject (≤ limit rows), and — the ANN probe-set
    shape — EVERY fact scan in the subtree carrying a pushed
    ``LessThan[OrEqual](<col>_id, k)`` with k ≤ 1024: the schema's
    ``*_id`` columns are dense surrogate keys from 0, so a pushed
    less-than on one bounds the scan to ≤ k rows (q61/q87/q85's
    ``vec_id < 10`` probe frames). Driver-made frames
    (ExistingRDD/LocalTableScan/Range) are the rankops bucket-
    boundary metadata — ≤ n_buckets rows, already capped by
    test_no_driver_materialization_in_sources."""
    import re

    fact = {"lineitem", "orders", "customer", "part", "supplier",
            "partsupp", "documents", "embeddings", "events"}

    tree = plan.split("\n\n")[0]
    nodes: list[tuple[int, str, int | None]] = []
    for line in tree.splitlines():
        m = re.match(
            r"^([\s:+|-]*)(\*?\s*)([A-Za-z][\w .]*?)\s*\((\d+)\)\s*$", line)
        if m:
            nodes.append((len(m.group(1)), m.group(3).strip(),
                          int(m.group(4))))
    details: dict[int, str] = {}
    for block in plan.split("\n\n"):
        m = re.match(r"\((\d+)\) ", block)
        if m:
            details[int(m.group(1))] = block

    offenses = []
    for i, (col, name, nid) in enumerate(nodes):
        if not name.startswith("BroadcastExchange"):
            continue
        # skip cache-embedded plans: any ancestor InMemoryRelation
        if any(c < col and n.startswith("InMemoryRelation")
               for (c, n, _) in nodes[:i]):
            continue
        srcs: set[str] = set()
        bounded = False
        all_scans_key_bounded = True
        saw_scan = False
        for (c, n, d) in nodes[i + 1:]:
            if c <= col:
                break  # left the subtree
            if n.startswith("Scan parquet"):
                saw_scan = True
                blk = details.get(d, "")
                m = re.search(r"/(\w+)\.parquet", blk)
                srcs.add(m.group(1) if m else "parquet?")
                km = re.search(
                    r"LessThan(?:OrEqual)?\(\w+_id,(\d+)\)", blk)
                if not (km and int(km.group(1)) <= 1024):
                    all_scans_key_bounded = False
            if ("Aggregate" in n and d in details
                    and re.search(r"^Keys: \[\]", details[d], re.M)):
                bounded = True
            if n.startswith(("GlobalLimit", "CollectLimit",
                             "TakeOrderedAndProject")):
                bounded = True
        if saw_scan and all_scans_key_bounded:
            bounded = True  # dense-key probe set: ≤ k rows per scan
        if srcs & fact and not bounded:
            offenses.append(f"BroadcastExchange({nid}) over {sorted(srcs & fact)}")
    return offenses


def test_forced_broadcast_detector_positive():
    """The detector must fire on a forced fact-table broadcast and
    stay quiet on bounded/cache-embedded shapes."""
    flagged = (
        "* Project (5)\n+- BroadcastHashJoin Inner BuildRight (4)\n"
        "   :- Scan parquet  (1)\n"
        "   +- BroadcastExchange (3)\n"
        "      +- Scan parquet  (2)\n\n"
        "(2) Scan parquet \nLocation: [/x/customer.parquet]\n\n"
        "(1) Scan parquet \nLocation: [/x/orders.parquet]\n"
    )
    keyless_ok = (
        "* Project (5)\n+- BroadcastNestedLoopJoin (4)\n"
        "   :- Scan parquet  (1)\n"
        "   +- BroadcastExchange (3)\n"
        "      +- HashAggregate (2)\n"
        "         +- Scan parquet  (6)\n\n"
        "(6) Scan parquet \nLocation: [/x/customer.parquet]\n\n"
        "(2) HashAggregate\nInput: []\nKeys: []\n"
    )
    cached_ok = (
        "* Project (5)\n+- SortMergeJoin Inner (4)\n"
        "   :- Scan parquet  (1)\n"
        "   +- InMemoryTableScan (9)\n"
        "         +- InMemoryRelation (8)\n"
        "               +- BroadcastExchange (3)\n"
        "                  +- Scan parquet  (2)\n\n"
        "(2) Scan parquet \nLocation: [/x/customer.parquet]\n"
    )
    probe_ok = (  # pushed LessThan on a dense *_id key: ≤ k rows
        "* Project (5)\n+- BroadcastHashJoin Inner BuildLeft (4)\n"
        "   :- BroadcastExchange (3)\n"
        "   :  +- Scan parquet  (2)\n"
        "   +- Scan parquet  (1)\n\n"
        "(2) Scan parquet \nLocation: [/x/embeddings.parquet]\n"
        "PushedFilters: [IsNotNull(vec_id), LessThan(vec_id,10)]\n\n"
        "(1) Scan parquet \nLocation: [/x/embeddings.parquet]\n"
        "PushedFilters: [IsNotNull(vec_id)]\n"
    )
    nonkey_flagged = (  # LessThan on a NON-key column does not bound
        "* Project (5)\n+- BroadcastHashJoin Inner BuildLeft (4)\n"
        "   :- BroadcastExchange (3)\n"
        "   :  +- Scan parquet  (2)\n"
        "   +- Scan parquet  (1)\n\n"
        "(2) Scan parquet \nLocation: [/x/part.parquet]\n"
        "PushedFilters: [LessThanOrEqual(p_size,20)]\n\n"
        "(1) Scan parquet \nLocation: [/x/part.parquet]\n"
    )
    assert forced_broadcast_offenses(flagged)
    assert not forced_broadcast_offenses(keyless_ok)
    assert not forced_broadcast_offenses(cached_ok)
    assert not forced_broadcast_offenses(probe_ok)
    assert forced_broadcast_offenses(nonkey_flagged)


def test_no_forced_broadcast_of_fact_frames(spark, registry, monkeypatch):
    """VERDICT r4 #1's missing rule: a forced ``F.broadcast`` on a
    frame derived from a fact-scale table (without a bounding
    aggregation) defeats AQE's size check — fine at sf0.1, an OOM at
    the 100 TB design point. Each query builds under the session's
    broadcast threshold; thresholds go to -1 AFTER it builds and
    BEFORE the lazy planning that explain triggers, so only
    hint-forced exchanges survive in the non-cached plan.

    Allowance per query = static FORCED_BROADCAST_OK entry + the
    number of APPLIED ``broadcast_bounded`` guard sites recorded while
    THIS query built (operators/bounded.GUARDED_SITES): a hint that
    went through the runtime limit-probe and passed is
    enforced-bounded, not narrated — a bare F.broadcast of a fact
    frame stays banned, and a DECLINED guard credits nothing (ADVICE
    r6: a decline leaves no broadcast in the plan, so crediting it
    would cover for an unrelated bare hint in the same query).

    The audit runs with the persisted-artifact cache DISABLED
    (ADVICE r7): on a COLD cache, guard sites recorded inside a
    persisted() build-lambda execute in the artifact-WRITE job while
    the returned plan only reads the parquet back — crediting them
    would leave the audited plan's allowance one looser than its
    hints. With the cache off, persisted() returns the build frame
    itself, so every recorded site's hint is IN the audited plan."""
    from hearthstats_spark.operators.bounded import GUARDED_SITES

    monkeypatch.setenv("SPARK_GRAFT_ANN_CACHE", "0")
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    offenders: dict[str, list[str]] = {}
    try:
        for name, q in sorted(registry.items()):
            if not name.startswith("q"):
                continue
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
            n_sites0 = len(GUARDED_SITES)
            df = q.fn(spark, SF_MED)
            guarded = sum(
                1 for _, applied in GUARDED_SITES[n_sites0:] if applied)
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            spark.conf.set(
                "spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
            off = forced_broadcast_offenses(explain_str(df))
            if len(off) > FORCED_BROADCAST_OK.get(name, 0) + guarded:
                offenders[name] = off
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    assert not offenders, offenders
# q28 pre-aggregates to one row per ORDER DAY before its global
# cumulative window — the single sort task sees ~2.4k rows regardless
# of fact-table size, which is the documented safe use of an
# empty-partition window. q92/q94 take their top-k via orderBy+LIMIT
# (TakeOrderedAndProject — per-partition heaps) and only then rank
# the ≤ k surviving rows, so their global window input is bounded by
# the preceding limit at any scale. Nothing else may have one (q29's
# two-pass formulation replaced the last raw-table global window in
# round 2).
GLOBAL_WINDOW_OK = {"q28_win_cumulative", "q92_bm25_topk",
                    "q94_item_cooccur",
                    # q116's cumulative share runs AFTER aggregation
                    # to exactly 10 decile rows (q28's safe shape)
                    "q116_decile_lift",
                    # q121's running sum and q123's lag/frame windows
                    # run AFTER aggregation to calendar-day/month
                    # granularity (≤ 31 / ~80 rows at any raw scale)
                    "q121_cum_users_asof", "q123_mom_growth",
                    # q135's month-index row_number runs AFTER
                    # aggregation to calendar months (q123's shape)
                    "q135_ewma_revenue",
                    # q169's remainder rank runs AFTER aggregation to
                    # nation cardinality (25 rows at any raw scale)
                    "q169_largest_remainder_alloc",
                    # q177's cumulative CDF windows run AFTER the
                    # bucket-count aggregation to ≤ B+1 = 65 rows at
                    # any raw scale (the sketch bounds the frame)
                    "q177_ks_sketch_drift",
                    # q188/q189/q191/q192 rank AFTER orderBy+LIMIT 20
                    # (TakeOrderedAndProject — q92's bounded shape)
                    "q188_bpe_pair_stats", "q189_bpe_merge_apply",
                    "q191_bpe_encode_stats", "q192_wordpiece_scores"}


def _has_global_window(plan: str) -> bool:
    """True if any Window node in a formatted plan has an empty
    partition spec. Each formatted-explain detail block is
    ``(N) Window`` followed by Input/Arguments lines; the Arguments
    line prints only the NON-EMPTY specs: ``[exprs], [partition],
    [order]``. Group count alone is ambiguous at 2 — a partitioned
    window with no ORDER BY also prints two groups — so the second
    group is classified by content: order lists carry ``ASC``/
    ``DESC`` markers, partition lists never do. One group = global
    unordered window (also a single-task sort at scale)."""
    import re

    for block in plan.split("\n\n"):
        if not re.match(r"\(\d+\) Window\b", block):
            continue
        for line in block.splitlines():
            if not line.startswith("Arguments: "):
                continue
            depth, groups, texts = 0, 0, []
            for ch in line:
                if ch == "[":
                    if depth == 0:
                        groups += 1
                        texts.append("")
                    depth += 1
                elif ch == "]":
                    depth -= 1
                elif depth >= 1:
                    texts[-1] += ch
            if groups == 1:
                return True
            if groups == 2 and re.search(r" (ASC|DESC)\b", texts[1]):
                return True
    return False


def test_global_window_detector_positive():
    """The detector must actually fire on a global window — round 2
    initially shipped it with a regex that never matched (an Input
    line sits between the node header and Arguments)."""
    sample = (
        "(9) Window\nInput [2]: [a#1, b#2]\n"
        "Arguments: [sum(a#1) windowspecdefinition(b#2 ASC, "
        "specifiedwindowframe(RowFrame, x$(), y$())) AS w#3], "
        "[b#2 ASC]\n\n(10) Project\n"
    )
    partitioned = (
        "(9) Window\nInput [2]: [a#1, b#2]\n"
        "Arguments: [row_number() windowspecdefinition(k#0, b#2 ASC, "
        "specifiedwindowframe(RowFrame, x$(), y$())) AS w#3], [k#0], "
        "[b#2 ASC]\n\n(10) Project\n"
    )
    # partitioned but UNORDERED (count over partition): two groups,
    # second is the partition list — must NOT flag (q83's size window)
    partitioned_unordered = (
        "(9) Window\nInput [2]: [a#1, k#0]\n"
        "Arguments: [count(1) windowspecdefinition(k#0, "
        "specifiedwindowframe(RowFrame, x$(), y$())) AS c#2L], "
        "[k#0]\n\n(10) Project\n"
    )
    # global AND unordered: a single group — must flag (one task
    # swallows the whole table)
    global_unordered = (
        "(9) Window\nInput [1]: [a#1]\n"
        "Arguments: [count(1) windowspecdefinition("
        "specifiedwindowframe(RowFrame, x$(), y$())) AS c#2L]"
        "\n\n(10) Project\n"
    )
    assert _has_global_window(sample)
    assert not _has_global_window(partitioned)
    assert not _has_global_window(partitioned_unordered)
    assert _has_global_window(global_unordered)


def test_no_scale_hostile_plans(spark, registry):
    offenders: dict[str, str] = {}
    for name, q in sorted(registry.items()):
        if not name.startswith("q"):
            continue  # side-effect ops execute eagerly; covered elsewhere
        p = explain_str(q.fn(spark, SF_MED))
        if "CartesianProduct" in p:
            offenders[name] = "CartesianProduct"
        elif "BroadcastNestedLoopJoin" in p and name not in NESTED_LOOP_OK:
            offenders[name] = "BroadcastNestedLoopJoin"
        elif "BatchEvalPython" in p and name not in PYTHON_ROW_OK:
            offenders[name] = "row-at-a-time Python in the hot path"
        elif _has_global_window(p) and name not in GLOBAL_WINDOW_OK:
            offenders[name] = "global (empty-partition) window sort"
    assert not offenders, offenders


def test_no_driver_materialization_in_sources():
    """Source-level sweep: no query/operator module may call
    .collect()/.toPandas() outside the three audited lanes —

    - operators/rankops.py: the two-pass range-partition kernels
      collect ONE ≤ n_buckets-row aggregate (the same boundary
      metadata a RangePartitioner ships to the driver);
    - operators/similarity.py: the brute-force top-k fast path
      builds its broadcast matrix via toPandas BEHIND an explicit
      row-count guard that reroutes big inputs to the chunked
      kernel (plus that one count() scalar);
    - queries/sinks.py: s01's recorded sqlite3 fallback (no JDBC
      jar offline), s09/s12's single-scalar self-verification
      (max key / content digest), and s18's 1-row counter
      materialization before temp-dir cleanup — side-effect ops,
      not query lanes;
    - streaming/pipeline.py: s17's 1-row counter materialization
      before temp-dir cleanup (ADVICE r3; micro-batch data itself
      never crosses the driver — test_streaming pins the site), and
      s27's 1-row winning-pair scalar (comparing the maintained
      store's BPE head against the batch one — a single string).

    Anything else is a new driver-side materialization and must be
    justified here before it lands."""
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parents[1] / "hearthstats_spark"
    allowed = {  # file -> max permitted call sites
        "operators/rankops.py": 4,
        "operators/similarity.py": 1,
        # +s18's metadata file-list (n_files rows) + s18's 1-row
        # counters-before-cleanup + s21's bucket-sized blob
        # materialization and n_files verification rows
        "queries/sinks.py": 7,
        "streaming/pipeline.py": 2,  # s17 counters + s27 head scalar
    }
    pat = re.compile(r"\.(collect|toPandas)\(\)")
    offenders: dict[str, int] = {}
    for sub in ("queries", "operators", "functions", "sources", "streaming"):
        for py in sorted((root / sub).glob("*.py")):
            n = len(pat.findall(py.read_text()))
            if n == 0:
                continue
            rel = f"{sub}/{py.name}"
            if n > allowed.get(rel, 0):
                offenders[rel] = n
    assert not offenders, (
        f"driver-side materialization outside the audited lanes: "
        f"{offenders}")


def test_broadcast_bounded_degrades_above_cap(spark):
    """The guard's two behaviors, observed in the physical plan: a
    frame within the cap gets a BroadcastExchange; the same join
    above the cap falls back to Catalyst's choice with NO forced
    broadcast (thresholds at -1 → a shuffle join)."""
    from hearthstats_spark.operators.bounded import broadcast_bounded

    left = spark.range(0, 1000).withColumnRenamed("id", "k")
    small = spark.range(0, 50).withColumnRenamed("id", "k")
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        hinted = left.join(broadcast_bounded(small, 100), "k")
        assert "BroadcastExchange" in explain_str(hinted)
        unhinted = left.join(broadcast_bounded(small, 10), "k")
        assert "BroadcastExchange" not in explain_str(unhinted)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
