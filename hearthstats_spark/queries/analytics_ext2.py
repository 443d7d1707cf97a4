"""Group M extensions — sixteen shapes a production analytics /
training-data engine runs daily (q102–q117):

- **q102**: an explicit Bloom runtime filter ahead of a fact-dim
  join — the shuffle-volume reducer every 100 TB star join wants
  (Spark's own cost-based version only fires on statistics; ours is
  an always-available operator, `operators/bloom.py`).
- **q103**: signup-cohort weekly retention — THE product-analytics
  query (cohort × week-offset matrix of distinct active users).
- **q104**: per-series rolling mean/std + z-score anomaly flags —
  monitoring/outlier detection over event-time aggregates.
- **q105**: per-document Shannon entropy of the token distribution —
  the text-quality signal that catches boilerplate/low-information
  docs before they enter a training mix.
- **q106**: string-similarity self-join under a Levenshtein budget
  with composite (nation, length-band) blocking — entity-
  resolution's workhorse.
- **q107**: exact heavy hitters via the two-phase local-prune +
  verify plan (the distributed Misra–Gries shape with an exact
  verify pass, `operators/heavyhitters.py`).
- **q108**: iterative PageRank over the co-order part graph
  (decimal-exact contributions; bucketed-edge lane in
  `pagerank_loop`).
- **q109**: ASOF join with a 48 h staleness bound (feature-store
  lookup semantics).
- **q110**: median/MAD robust outlier counts per event type.
- **q111**: funnel time-to-convert (first view → first purchase
  lag percentiles).
- **q112**: gap-based sessionization assigning a session id to
  every event (one user-keyed exchange, single Window node).
- **q113**: share-of-region revenue + intra-region rank
  (percent-of-parent BI rollup).
- **q114**: linear multi-touch attribution over a bounded
  7-day range join.
- **q115**: EXISTS + NOT EXISTS composition (TPC-H Q21 shape) as
  one semi + one anti hash join.
- **q116**: equal-depth customer spend deciles via the two-pass
  global-position kernel + cumulative lift shares.
- **q117**: interval-overlap sweep line (open-order concurrency)
  with an exact distributed prefix sum.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hearthstats_spark.functions import dsum, fsum_sql
from hearthstats_spark.functions.numeric import DEC
from hearthstats_spark.io import load_table
from hearthstats_spark.queries.registry import register


@register(
    "q102_join_bloom_prune",
    oracle=f"""
    SELECT strftime(date_trunc('month', o.o_orderdate), '%Y-%m') AS month,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(COUNT(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders,
           {fsum_sql("l.l_extendedprice * (1 - l.l_discount)", "revenue")}
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
      AND o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY 1
    """,
)
def q102_join_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly urgent-1997 revenue, with the lineitem scan pre-pruned
    by an in-plan Bloom filter built from the filtered orders keys.

    The bloom is semantically transparent (false positives die in the
    exact join that follows), so the oracle is the plain join — what
    the filter buys is scan-side row reduction BEFORE the join
    shuffle: at 100 TB the urgent-1997 predicate keeps ~3% of orders,
    and probe rows that would shuffle only to miss are dropped at the
    parquet scan instead (same motivation as Catalyst's runtime
    bloom, which PySpark 4.1 cannot request explicitly). Build side
    is one mergeable bit_or aggregation; probe is a broadcast 1-row
    cross join + codegen'd forall — zero extra shuffles end to end.
    """
    from hearthstats_spark.operators.bloom import build_bloom, probe_bloom

    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_orderdate") >= "1997-01-01")
        & (F.col("o_orderdate") < "1998-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem")
    bloom = build_bloom(o, "o_orderkey")
    pruned = probe_bloom(li, "l_orderkey", bloom)
    return (
        pruned.join(
            o.select("o_orderkey", "o_orderdate"),
            pruned.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy(
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias("month")
        )
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.countDistinct("o_orderkey").alias("n_orders"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
        )
    )


@register(
    "q103_cohort_retention",
    oracle="""
    WITH first_signup AS (
        SELECT user_id,
               MIN(ts) AS fts,
               date_trunc('week', MIN(ts)) AS cw
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT e.user_id, f.cw,
               date_diff('day', f.cw, date_trunc('week', e.ts)) // 7
                   AS week_offset
        FROM events e JOIN first_signup f ON e.user_id = f.user_id
        WHERE e.ts >= f.fts
    )
    SELECT strftime(cw, '%Y-%m-%d') AS cohort_week,
           CAST(week_offset AS INT) AS week_offset,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM activity GROUP BY cw, week_offset
    """,
)
def q103_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup-cohort weekly retention matrix: users grouped by the
    week of their FIRST signup event; each later week in which the
    user produced any event (at/after that first signup) counts them
    as retained for that (cohort, offset) cell.

    Plan (round 9, the q117 pre-agg rewrite generalized): events
    first collapse to one (user, week, max ts) row — a map-side-
    combinable agg, so the fact table crosses the wire once at
    distinct-(user,week) rows instead of raw events — then join the
    per-user first-signup frame. The cell is retained iff ANY event
    of that week has ts >= fts, i.e. iff the week's MAX ts does, and
    one row per (user, week) makes the old post-join DISTINCT (a
    second full-fact shuffle) unnecessary by construction: week
    starts are 7 days apart, so floor(datediff/7) is injective per
    user. The cohort matrix itself is tiny (weeks × offsets)."""
    ev = load_table(spark, sf_dir, "events")
    first = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("fts"))
        .withColumn("cw", F.date_trunc("week", "fts"))
    )
    weekly = (
        ev.groupBy("user_id", F.date_trunc("week", "ts").alias("w"))
        .agg(F.max("ts").alias("max_ts"))
    )
    cells = (
        weekly.join(first, "user_id")
        .filter(F.col("max_ts") >= F.col("fts"))
        .select(
            "user_id",
            "cw",
            F.floor(
                F.datediff(F.col("w"), F.col("cw")) / 7
            ).cast("long").alias("week_offset"),
        )
    )
    return (
        cells.groupBy("cw", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .select(
            F.date_format("cw", "yyyy-MM-dd").alias("cohort_week"),
            F.col("week_offset").cast("int").alias("week_offset"),
            "n_users",
        )
    )


@register(
    "q104_rolling_zscore",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS d,
               {fsum_sql("value", "day_sum")}
        FROM events GROUP BY 1, 2
    ),
    w AS (
        SELECT event_type, d, day_sum,
               CAST(SUM(CAST(day_sum AS DECIMAL(28,4))) OVER win
                    AS DOUBLE) AS s,
               CAST(SUM(CAST(day_sum * day_sum AS DECIMAL(28,4))) OVER win
                    AS DOUBLE) AS ssq,
               COUNT(*) OVER win AS n
        FROM daily
        WINDOW win AS (PARTITION BY event_type ORDER BY d
                       ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, strftime(d, '%Y-%m-%d') AS day,
           ROUND(day_sum, 4) AS day_sum,
           CASE WHEN n = 7 AND (ssq - s*s/n) / (n-1) > 1e-9
                THEN ROUND((day_sum - s/n)
                           / sqrt((ssq - s*s/n) / (n-1)), 4)
           END AS zscore,
           (n = 7 AND (ssq - s*s/n) / (n-1) > 1e-9
              AND abs((day_sum - s/n)
                      / sqrt((ssq - s*s/n) / (n-1))) > 2.0) AS is_anomaly
    FROM w
    """,
)
def q104_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day z-score anomaly flags over per-type daily value
    sums (monitoring / outlier detection on an event-time series).

    Float discipline: the daily sums are exact decimal sums, and the
    rolling mean/std are derived from DECIMAL windowed sums of
    day_sum and day_sum² — every float op downstream sees identical
    inputs in both engines, and sqrt/division are IEEE-deterministic,
    so the 4-dp z-scores match bit-for-bit. Scale: the window runs
    AFTER aggregation, over one row per (type, day) — a ~365-row
    partition per series regardless of raw event volume, so the
    small per-type partition count is irrelevant at 100 TB (the heavy
    lifting is the leading distributed agg)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("d")
    ).agg(dsum("value", "day_sum"))
    win = (
        Window.partitionBy("event_type").orderBy("d").rowsBetween(-6, 0)
    )
    ds = F.col("day_sum")
    s = F.sum(ds.cast(DEC)).over(win).cast("double")
    ssq = F.sum((ds * ds).cast(DEC)).over(win).cast("double")
    n = F.count(F.lit(1)).over(win)
    var = (ssq - s * s / n) / (n - 1)
    z = (ds - s / n) / F.sqrt(var)
    ok = (n == 7) & (var > 1e-9)
    return daily.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.round(ds, 4).alias("day_sum"),
        F.when(ok, F.round(z, 4)).alias("zscore"),
        (ok & (F.abs(z) > 2.0)).alias("is_anomaly"),
    )


@register(
    "q105_doc_entropy",
    oracle="""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                 FROM documents),
    tc AS (SELECT doc_id, term, COUNT(*) AS c FROM tok GROUP BY 1, 2),
    d AS (SELECT doc_id,
                 CAST(SUM(c) AS BIGINT) AS n_tokens,
                 CAST(COUNT(*) AS BIGINT) AS n_distinct,
                 SUM(c * log2(c)) AS clog
          FROM tc GROUP BY doc_id)
    SELECT doc_id, n_tokens, n_distinct,
           ROUND(log2(CAST(n_tokens AS DOUBLE)) - clog / n_tokens, 4)
               AS entropy
    FROM d
    """,
)
def q105_doc_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each document's token distribution — the
    low-information/boilerplate detector in data-quality scoring
    (H = log2(N) - Σ c·log2(c) / N over term counts c).

    That algebraic form needs only per-term counts and one log2 per
    DISTINCT term — no per-token float work — and the Σ c·log2(c)
    double sum is over ≤ a-few-hundred small terms, so the 4-dp
    rounding absorbs summation-order drift (q92's rounded-score
    discipline). Two hash aggs, both keyed by doc_id — one shuffle
    at scale since the second agg is partial-aggregated on the same
    key."""
    d = load_table(spark, sf_dir, "documents")
    tc = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_doc = tc.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(F.col("c") * F.log2("c")).alias("clog"),
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        F.round(
            F.log2(F.col("n_tokens").cast("double"))
            - F.col("clog") / F.col("n_tokens"),
            4,
        ).alias("entropy"),
    )


@register(
    "q106_join_editdist",
    oracle="""
    WITH p AS (
        SELECT a.c_nationkey AS nationkey,
               levenshtein(a.c_name, b.c_name) AS lev
        FROM customer a
        JOIN customer b ON a.c_nationkey = b.c_nationkey
                       AND a.c_custkey < b.c_custkey
        WHERE levenshtein(a.c_name, b.c_name) <= 2
    )
    SELECT nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN lev = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_lev1,
           CAST(MIN(lev) AS INT) AS min_lev
    FROM p GROUP BY nationkey
    """,
)
def q106_join_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked string-similarity self-join: near-duplicate customer
    names (Levenshtein ≤ 2) within each nation, aggregated per
    nation — the entity-resolution candidate-pair shape.

    Blocking key is COMPOSITE: (nation, length-band). Edit distance
    is bounded below by the length difference, so with band width 3
    any pair at lev ≤ 2 sits in the same or an adjacent band — the
    probe side replicates each row to bands {b-1, b, b+1} (3×, a
    constant) and the equi join on (nationkey, band) recovers the
    full nation-blocked pair space exactly. Losslessness is why the
    oracle can stay the plain nation-blocked SQL: identical rows,
    hash-exact. Unlike blocking on nation alone (25 keys forever),
    key cardinality now grows with the data's length diversity, and
    per-block pair work is O((n/blocks)²), not O((n/25)²).

    The physical plan is pinned deliberately: (1) shuffle_hash —
    at 100 TB both sides of an ER self-join are fact-sized, broadcast
    is not an option, the plan must shuffle on the block key; (2)
    EXPLICIT repartition on the composite key rather than the join's
    own ENSURE_REQUIREMENTS exchange — AQE's byte-based partition
    coalescing sees a few hundred KB of names and merges the shuffle
    to ~1 task, blind to the O(block²) CPU behind each row (measured:
    6.5 s single-threaded lev work = the whole round-2 8.5 s cold
    time; REPARTITION_BY_COL is exempt from coalescing and the same
    work runs in ~1.4 s across the blocks). A CPU-bound non-equi
    join is the one place byte-proportional AQE heuristics mislead.

    The distance predicate is a JVM builtin evaluated join-side,
    post-equi-match — never a cartesian. A pathological mega-block
    (one nation × one band dominating) would be salted like q80;
    not needed while blocks stay ~thousands of rows."""
    c = load_table(spark, sf_dir, "customer")
    band_w = 3  # > lev threshold 2, so |Δlen| ≤ 2 ⇒ |Δband| ≤ 1
    a = c.select(
        F.col("c_nationkey").alias("nationkey"),
        F.col("c_custkey").alias("ka"),
        F.col("c_name").alias("na"),
        F.expr(f"length(c_name) div {band_w}").alias("band"),
    )
    b = c.select(
        F.col("c_nationkey").alias("nationkey"),
        F.col("c_custkey").alias("kb"),
        F.col("c_name").alias("nb"),
        F.explode(
            F.array(
                F.expr(f"length(c_name) div {band_w} - 1"),
                F.expr(f"length(c_name) div {band_w}"),
                F.expr(f"length(c_name) div {band_w} + 1"),
            )
        ).alias("band"),
    )
    # 3-arg levenshtein = banded DP with early exit (returns -1 above
    # the threshold): O(len·k) per pair instead of O(len²) — measured
    # ~3× on the sf0.1 block sizes. Semantics identical to
    # levenshtein(na, nb) <= 2.
    lev = F.levenshtein("na", "nb", 2)
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    pairs = (
        a.repartition(n_part, "nationkey", "band")
        .hint("shuffle_hash")
        .join(b.repartition(n_part, "nationkey", "band"), ["nationkey", "band"])
        .filter((F.col("ka") < F.col("kb")) & (lev >= 0))
        .select("nationkey", lev.alias("lev"))
    )
    return pairs.groupBy("nationkey").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.when(F.col("lev") == 1, 1).otherwise(0)).alias("n_lev1"),
        F.min("lev").cast("int").alias("min_lev"),
    )


@register(
    "q107_heavy_hitters",
    oracle="""
    WITH items AS (
        -- TRY_CAST, matching Spark's null-on-malformed cast: a
        -- non-numeric payload key becomes a NULL group on BOTH
        -- engines (and the operator's verify join is null-safe)
        SELECT TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
            AS item
        FROM events
    ),
    tot AS (SELECT COUNT(*) AS n FROM items)
    SELECT item, CAST(COUNT(*) AS BIGINT) AS cnt,
           ROUND(CAST(COUNT(*) AS DOUBLE) / (SELECT n FROM tot), 4)
               AS frac
    FROM items GROUP BY item
    HAVING COUNT(*) >= 0.0105 * (SELECT n FROM tot)
    """,
)
def q107_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact frequent items (support ≥ 1.05%) over the event payload
    key, via the two-phase local-prune + verify plan in
    `operators/heavyhitters.py` (distributed Misra–Gries candidate
    shape, pigeonhole-sound, exact verify pass).

    The oracle is the plain GROUP BY/HAVING — the two-phase plan is
    an execution strategy, not a semantics change. At 100 TB the
    win is that the verify shuffle carries only candidate items
    (≤ 1/s per partition by construction) instead of the full
    item-frequency table."""
    from hearthstats_spark.operators.heavyhitters import heavy_hitters

    ev = load_table(spark, sf_dir, "events")
    items = ev.select(
        F.get_json_object("props", "$.k").cast("bigint").alias("item")
    )
    return heavy_hitters(items, ["item"], support=0.0105)


def _pr_iter_sql(i: int) -> str:
    """One unrolled PageRank iteration as a DuckDB CTE body.

    Fixed-point contribution sums: FLOOR((rank/d)·10¹²) is the same
    BIGINT on both engines (identical IEEE divide/multiply, then
    floor — no ROUND, whose half-way rule differs cross-engine), and
    integer sums are order-independent where double sums are not.
    Decimal(28,12) sums gave the same guarantee but cost ~3× per
    iteration in Spark's hash aggregate (measured at sf0.1)."""
    return f"""
    r{i} AS (
        SELECT u.dst AS node,
               CAST(0.15 AS DOUBLE)
               + CAST(0.85 AS DOUBLE)
                 * (CAST(SUM(CAST(FLOOR(r.rank / deg.d * 1e12)
                                  AS BIGINT)) AS DOUBLE) / 1e12)
                   AS rank
        FROM u
        JOIN r{i - 1} r ON u.src = r.node
        JOIN deg ON deg.src = u.src
        GROUP BY u.dst
    )"""


@register(
    "q108_pagerank",
    oracle="""
    WITH po0 AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    -- declared heavy-basket cap (BASKET_CAP = 64, both engines)
    po AS (
        SELECT l_orderkey, l_partkey
        FROM (SELECT l_orderkey, l_partkey,
                     row_number() OVER (PARTITION BY l_orderkey
                                        ORDER BY l_partkey) AS rn
              FROM po0)
        WHERE rn <= 64
    ),
    e AS (
        SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
        FROM po x JOIN po y ON x.l_orderkey = y.l_orderkey
                           AND x.l_partkey < y.l_partkey
    ),
    u AS (SELECT a AS src, b AS dst FROM e
          UNION ALL SELECT b AS src, a AS dst FROM e),
    deg AS (SELECT src, COUNT(*) AS d FROM u GROUP BY src),
    r0 AS (SELECT src AS node, CAST(1.0 AS DOUBLE) AS rank FROM deg),"""
    + ",".join(_pr_iter_sql(i) for i in range(1, 5))
    + """
    SELECT node, ROUND(rank, 4) AS rank4
    FROM r4 ORDER BY rank4 DESC, node LIMIT 20
    """,
)
def q108_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 4 iterations, unnormalized 1.0 init)
    over the parts-co-ordered graph; top-20 hub parts.

    The iterative-algorithm representative: rank_{i+1}(v) = 0.15 +
    0.85·Σ rank_i(u)/deg(u) over in-edges. Each iteration is one
    keyed join (ranks ⋈ edges on src) + one hash agg on dst — the
    exact computational shape of Pregel-style PageRank on any engine.
    Cross-engine exactness: per-edge contributions are floored into
    fixed-point 10⁻¹² LONG units before summing (integer sums are
    order-independent; floor of an identical IEEE product is the
    same integer on both engines), and the remaining float ops (one
    division, one multiply-add per node per iteration) are identical
    IEEE operations on identical inputs, so ranks match bit-for-bit
    after any fixed iteration count; the oracle unrolls the same 4
    iterations as chained CTEs (recursive SQL forbids the
    per-iteration aggregate). Ranking uses the ROUNDED value (q61
    discipline).

    Scale: the edge frame is localCheckpoint'ed (every iteration
    reads it; Spark has no subplan reuse); the bucketed-edge lane —
    `ud` persisted bucketed+sorted by src so the per-iteration join
    is shuffle-free on the edge side and only the rank frame moves —
    is `pagerank_loop` over a `sources/layout.write_bucketed` table,
    plan-pinned in tests/test_layout.py and measured at sf0.1
    (see SCALE.md §pagerank)."""
    from hearthstats_spark.operators.ann_index import persisted
    from hearthstats_spark.queries.analytics_ext import (
        BASKET_CAP, co_order_edges)

    # standing co-purchase graph table from the persisted-artifact
    # store (q142's rationale; content-keyed on lineitem,
    # version=BASKET_CAP) — the per-query edge rebuild was the
    # largest share of q108's cost (measured 4.15 → 3.03 s warm)
    e = persisted(spark, sf_dir, "co_order_edges",
                  lambda: co_order_edges(spark, sf_dir),
                  table="lineitem", version=BASKET_CAP)
    u = (e.select(F.col("a").alias("src"), F.col("b").alias("dst"))
         .unionAll(e.select(F.col("b").alias("src"),
                            F.col("a").alias("dst"))))
    from hearthstats_spark.operators.graph import (
        checkpoint_partitioned, checkpoint_preserving)

    # Optimization round 12 (guide §2.3/§2.4): materialize EDGES ONLY
    # (src, dst — two longs), not the former (src, dst, d) join
    # product. The degree column is per-SRC, so joining it onto every
    # edge row before the checkpoint paid an edge-sized join exchange
    # AND widened the materialization by a third just to carry a
    # value the iteration can attach on the node-sized frame instead
    # (rank/d is identical per src either way — same IEEE divide on
    # the same inputs, see pagerank_loop). Build went from
    # u-exchange + deg-exchange + join + repartition + edge-distinct
    # (measured 2.03 s at sf0.1) to ONE edge exchange + an
    # exchange-free co-partitioned deg agg (0.88 s): deg's groupBy
    # reads the checkpointed hash(src) layout in place, and the node
    # set is deg's group keys — the separate edge-sized distinct for
    # rank init is gone too.
    ue = checkpoint_partitioned(
        u, ["src"], int(spark.conf.get("spark.sql.shuffle.partitions")))
    # node-sized, read once per iteration (4×): EAGER checkpoint, not
    # .cache() — this plan references ue through several join
    # branches, relation dedup re-instances the checkpoint scan per
    # branch, and a cache entry keyed on one instance then never
    # sameResult-matches (measured: 0 InMemoryTableScan with the
    # cache registered; deg re-aggregated every iteration).
    # checkpoint_preserving keeps the agg's hash(src) output layout
    # without checkpoint_partitioned's redundant repartition — the
    # agg output is already partitioned by its grouping key.
    deg = checkpoint_preserving(
        ue.groupBy("src").agg(F.count(F.lit(1)).alias("d")))
    nodes = deg.select(F.col("src").alias("node"))
    ranks = pagerank_loop(ue, nodes, deg=deg)
    return (
        ranks.select("node", F.round("rank", 4).alias("rank4"))
        .orderBy(F.col("rank4").desc(), "node").limit(20)
    )


def pagerank_loop(ud: DataFrame, nodes: DataFrame,
                  iterations: int = 4,
                  deg: DataFrame | None = None) -> DataFrame:
    """The q108 iteration kernel: rank_{i+1}(v) = 0.15 + 0.85·Σ
    rank_i(u)/deg(u), fixed-point LONG contribution sums
    (order-independent), 1.0 init on ``nodes``.

    ``ud`` is whatever materialization the caller owns: q108 passes a
    localCheckpoint; the cluster-scale lane passes a catalog table
    written by ``sources.layout.write_bucketed(..., ['src'])``, which
    makes the per-iteration rank⋈edge join shuffle-free on the edge
    side — the dominant per-iteration exchange (edge-sized) vanishes
    and only the node-sized rank frame moves (plan-pinned in
    tests/test_layout.py).

    ``deg`` (optimization round 12, guide §2.3): when the caller owns
    a node-sized (src, d) degree frame, ``ud`` is edges-only
    (src, dst) and rank/d is computed on the NODE-sized frame before
    touching edges — the edge materialization narrows by a third and
    the per-edge work is one long lookup instead of a float divide.
    floor(rank/d·1e12) is the same IEEE product per src either way,
    so the summed integers — and therefore the ranks — are
    bit-identical between the two lanes (pinned by
    tests/test_layout.py's lane-equality assertion). When ``deg`` is
    None, ``ud`` must carry d per edge row (the original form)."""
    ranks = nodes.select(F.col("node"), F.lit(1.0).alias("rank"))
    for i in range(iterations):
        # fixed-point LONG contributions (see _pr_iter_sql): floor of
        # an identical IEEE product is the same integer on both
        # engines, and long sums are order-independent AND ~3× faster
        # than the decimal(28,12) sums they replaced (hash-agg cost
        # measured at sf0.1: 1.3-2.0 s/iter -> ~0.5 s/iter). Range:
        # the per-node sum stays under 2⁶³ while the graph's total
        # rank mass is below ~9·10⁶ units — renormalize or drop to
        # decimal beyond that.
        if deg is not None:
            rd = deg.join(ranks, deg["src"] == ranks["node"]).select(
                deg["src"].alias("__rs"),
                F.floor(F.col("rank") / F.col("d") * F.lit(1e12))
                .alias("c"),
            )
            contrib = (ud.join(rd, ud["src"] == rd["__rs"])
                       .select("dst", "c"))
        else:
            contrib = ud.join(ranks, ud["src"] == ranks["node"]).select(
                "dst",
                F.floor(F.col("rank") / F.col("d") * F.lit(1e12))
                .alias("c"),
            )
        ranks = contrib.groupBy("dst").agg(
            (F.lit(0.15) + F.lit(0.85)
             * (F.sum("c").cast("double") / F.lit(1e12)))
            .alias("rank")
        ).select(F.col("dst").alias("node"), "rank")
        # Lineage cut every 8 rounds: iterative plans otherwise stack
        # until planning explodes. NOT every round and NOT at a fixed
        # early round — an eager localCheckpoint materializes ranks
        # and breaks broadcast pipelining, measured at ~3 s of a
        # 4.5 s four-iteration run at sf0.1; a 4-iteration PageRank
        # never pays it, a 40-iteration one cuts five times.
        if (i + 1) % 8 == 0 and i < iterations - 1:
            ranks = ranks.localCheckpoint()
    return ranks


@register(
    "q109_join_asof_tolerance",
    oracle="""
    SELECT p.event_id, p.user_id,
           strftime(p.ts, '%Y-%m-%d %H:%M') AS purchase_min,
           CASE WHEN s.ts >= p.ts - INTERVAL 48 HOUR
                THEN strftime(s.ts, '%Y-%m-%d %H:%M') END AS signup_min
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
      ON p.user_id = s.user_id AND p.ts >= s.ts
    """,
)
def q109_join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASOF join with a staleness bound: q13's latest-prior-signup
    match, but a match older than 48 hours is rejected (NULL) — the
    bounded-staleness lookup feature stores and quote-joins need
    (a too-old reference row is worse than none).

    Because the as-of match is the LATEST prior row, 'latest prior
    within the window' == 'latest prior, then nullified if outside
    the window' — so the tolerance is a post-filter on the matched
    timestamp, adding zero shuffles to the operator (same single
    union+window pass as q13; DuckDB mirrors with CASE over its
    native ASOF).

    Round 9 (ADVICE r8): the shared operator now routes NULL-keyed
    probe rows around the window — hash-identical, skew-safe on
    dirty FKs."""
    from hearthstats_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts")
    signups = ev.filter(F.col("event_type") == "signup").select(
        "user_id", "ts")
    joined = asof_join(purchases, signups, on=["user_id"], left_ts="ts")
    within = F.col("ts_asof") >= F.col("ts") - F.expr("INTERVAL 48 HOURS")
    return joined.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm").alias("purchase_min"),
        F.when(within, F.date_format("ts_asof", "yyyy-MM-dd HH:mm"))
        .alias("signup_min"),
    )


@register(
    "q110_mad_outliers",
    oracle="""
    WITH med AS (
        SELECT event_type,
               percentile_cont(0.5) WITHIN GROUP (ORDER BY value)
                   AS med
        FROM events GROUP BY event_type
    ),
    dev AS (
        SELECT e.event_type, e.value, m.med,
               ABS(e.value - m.med) AS adev
        FROM events e JOIN med m ON e.event_type = m.event_type
    ),
    mad AS (
        SELECT event_type,
               ANY_VALUE(med) AS med,
               percentile_cont(0.5) WITHIN GROUP (ORDER BY adev)
                   AS mad
        FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           ROUND(m.med, 4) AS med,
           ROUND(m.mad, 4) AS mad,
           CAST(SUM(CASE WHEN d.adev > 3 * CAST(1.4826 AS DOUBLE)
                                          * m.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM dev d JOIN mad m ON d.event_type = m.event_type
    GROUP BY d.event_type, m.med, m.mad
    """,
)
def q110_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier counts per event series: median / MAD (median
    absolute deviation) with the 1.4826 normal-consistency constant —
    the outlier detector that, unlike q104's z-score, is itself immune
    to the outliers it hunts.

    Two grouped EXACT percentiles (value, then |value − median|) with
    a broadcast-sized median frame joined back between them (the
    group key has dimension cardinality — the join is a broadcast at
    any fact scale). Interpolated exact percentiles match DuckDB's
    percentile_cont bit-for-bit on identical inputs (q23 precedent);
    everything else is counting."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med"))
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med")))
    mad = dev.groupBy("event_type").agg(
        F.first("med").alias("med"),
        F.expr("percentile(adev, 0.5)").alias("mad"))
    thresh = F.lit(3) * F.lit(1.4826) * F.col("mad")
    return (
        dev.drop("med")
        .join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "med", "mad")
        .agg(
            F.sum(F.when(F.col("adev") > thresh, 1).otherwise(0))
            .alias("n_outliers"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "event_type",
            F.round("med", 4).alias("med"),
            F.round("mad", 4).alias("mad"),
            "n_outliers", "n",
        )
    )


@register(
    "q111_conversion_lag",
    oracle="""
    WITH fv AS (
        SELECT user_id, MIN(ts) AS fv
        FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    conv AS (
        SELECT f.user_id,
               (epoch_us(MIN(e.ts)) - epoch_us(f.fv)) // 1000000
                   AS lag_s
        FROM fv f JOIN events e
          ON e.user_id = f.user_id
         AND e.event_type = 'purchase' AND e.ts >= f.fv
        GROUP BY f.user_id, f.fv
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
           ROUND(percentile_cont(0.5) WITHIN GROUP (ORDER BY lag_s), 4)
               AS p50_lag_s,
           ROUND(percentile_cont(0.9) WITHIN GROUP (ORDER BY lag_s), 4)
               AS p90_lag_s
    FROM conv
    """,
)
def q111_conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: for each user, seconds from
    FIRST view to the first purchase at/after it; report converted
    users + exact p50/p90 of the lag — the funnel-latency metric
    product analytics pairs with q82's ordered funnel.

    Lags are integer seconds (µs epoch difference, integer division)
    so the only float op is the final interpolated percentile (q23
    precedent). Plan: one filtered user-keyed agg, one user-keyed
    join + min agg, one global percentile over ≤ one row per user —
    the global agg's input is user-dimension-sized, not fact-sized."""
    ev = load_table(spark, sf_dir, "events")
    fv = (ev.filter(F.col("event_type") == "view")
          .groupBy("user_id").agg(F.min("ts").alias("fv")))
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .join(fv, "user_id")
        .filter(F.col("ts") >= F.col("fv"))
        .groupBy("user_id", "fv")
        .agg(F.min("ts").alias("fp"))
        .select(
            ((F.unix_micros("fp") - F.unix_micros("fv"))
             / F.lit(1000000)).cast("long").alias("lag_s")
        )
    )
    return conv.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.round(F.expr("percentile(lag_s, 0.5)"), 4).alias("p50_lag_s"),
        F.round(F.expr("percentile(lag_s, 0.9)"), 4).alias("p90_lag_s"),
    )


@register(
    "q112_sessionize_lag",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR (epoch_us(ts) - epoch_us(lag(ts) OVER w))
                         // 1000000 > 1800
                    THEN 1 ELSE 0 END AS is_start
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id, ts, event_type,
               SUM(is_start) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING)
                   AS session_no
        FROM marked
    )
    SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 1000000
               AS duration_s,
           CAST(SUM(CASE WHEN event_type = 'purchase'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases
    FROM sess GROUP BY user_id, session_no
    """,
)
def q112_sessionize_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization, the lag+cumsum formulation: a new
    session starts after >30 min of user inactivity; emit per-session
    event count, duration, purchase count. This is the assignment
    form of q43's `session_window` aggregate — it hands every event
    its session id, which downstream feature pipelines need (q43's
    windowed agg only emits the collapsed session row).

    Both windows (the lag mark and the running sum) are user_id-
    partitioned over the same (ts, event_id) sort, so Catalyst plans
    ONE shuffle + one sort and evaluates both window functions in a
    single Window node — sessionization at 100 TB is exactly one
    user-keyed exchange. Duration math is integer seconds from µs
    epochs. Both windows carry the same full tiebreak (ts, event_id)
    — a ROWS cumsum over a tie-ambiguous sort would be
    engine-dependent for a user whose first two events share a
    timestamp."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))) / 1000000
    marked = ev.withColumn(
        "is_start",
        F.when(F.lag("ts").over(w).isNull()
               | (gap_s.cast("long") > 1800), 1).otherwise(0),
    )
    wsum = (Window.partitionBy("user_id").orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, 0))
    sess = marked.withColumn("session_no", F.sum("is_start").over(wsum))
    return (
        sess.groupBy("user_id", "session_no")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            ((F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
             / F.lit(1000000)).cast("long").alias("duration_s"),
            F.sum(F.when(F.col("event_type") == "purchase", 1)
                  .otherwise(0)).alias("n_purchases"),
        )
        .select("user_id", F.col("session_no").cast("long").alias("session_no"),
                "n_events", "duration_s", "n_purchases")
    )


@register(
    "q113_revenue_share",
    oracle=f"""
    WITH rev AS (
        SELECT n.n_regionkey AS regionkey, c.c_nationkey AS nationkey,
               {fsum_sql("o.o_totalprice", "nation_rev")}
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY 1, 2
    )
    SELECT regionkey, nationkey,
           ROUND(nation_rev, 4) AS nation_rev,
           ROUND(nation_rev /
                 CAST(SUM(CAST(nation_rev AS DECIMAL(28,4))) OVER
                      (PARTITION BY regionkey) AS DOUBLE), 4)
               AS region_share,
           CAST(RANK() OVER (PARTITION BY regionkey
                             ORDER BY ROUND(nation_rev, 4) DESC,
                                      nationkey) AS INT)
               AS rank_in_region
    FROM rev
    """,
)
def q113_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-total within a hierarchy (ratio_to_report): each
    nation's revenue as a fraction of its region's, plus the intra-
    region rank — the percent-of-parent pattern every BI rollup has.

    One fact aggregation down to dimension granularity, then BOTH
    window functions (share denominator, rank) ride the same
    region-partitioned window — dimension-sized input, one exchange.
    The share denominator is a decimal windowed sum of the already-
    decimal-exact nation revenues, and the rank orders by the
    ROUNDED revenue (q61 discipline), so both engines agree
    bit-for-bit.

    Shuffle order (round 9, the q117 pre-agg rewrite generalized):
    orders collapses to one (custkey, decimal revenue partial) row
    BEFORE touching customer — map-side combine, so the fact table
    crosses the wire at ~|customer| rows and the custkey exchange it
    leaves behind already satisfies the join's distribution. Decimal
    partials re-summed at nation granularity are bit-identical to
    the direct sum (exact, associative; one double cast at the
    end, dsum's own DEC→double path)."""
    from hearthstats_spark.io import load_tables

    t = load_tables(spark, sf_dir, ("orders", "customer", "nation"))
    per_cust = (
        t["orders"].groupBy("o_custkey")
        .agg(F.sum(F.col("o_totalprice").cast(DEC)).alias("rev_part"))
    )
    rev = (
        per_cust
        .join(t["customer"],
              F.col("o_custkey") == t["customer"].c_custkey)
        .join(F.broadcast(t["nation"]),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_regionkey").alias("regionkey"),
                 F.col("c_nationkey").alias("nationkey"))
        .agg(F.sum("rev_part").cast("double").alias("nation_rev"))
    )
    wreg = Window.partitionBy("regionkey")
    denom = F.sum(F.col("nation_rev").cast(DEC)).over(wreg).cast("double")
    rnd = F.round("nation_rev", 4)
    wrank = Window.partitionBy("regionkey").orderBy(
        rnd.desc(), "nationkey")
    return rev.select(
        "regionkey", "nationkey",
        rnd.alias("nation_rev"),
        F.round(F.col("nation_rev") / denom, 4).alias("region_share"),
        F.rank().over(wrank).cast("int").alias("rank_in_region"),
    )


@register(
    "q114_attribution_linear",
    oracle="""
    WITH p AS (
        SELECT event_id AS pid, user_id, ts AS pts
        FROM events WHERE event_type = 'purchase'
    ),
    touch AS (
        SELECT p.pid, e.event_type
        FROM p JOIN events e
          ON e.user_id = p.user_id
         AND e.event_type IN ('view', 'click')
         AND e.ts <= p.pts
         AND e.ts >= p.pts - INTERVAL 7 DAY
    ),
    credit AS (
        SELECT pid, event_type,
               CAST(COUNT(*) AS DOUBLE)
               / SUM(COUNT(*)) OVER (PARTITION BY pid) AS c
        FROM touch GROUP BY pid, event_type
    )
    SELECT event_type,
           CAST(SUM(CAST(c AS DECIMAL(28,10))) AS DOUBLE)
               AS total_credit,
           CAST(COUNT(DISTINCT pid) AS BIGINT) AS n_purchases_touched
    FROM credit GROUP BY event_type
    """,
)
def q114_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: every view/click in the 7 days
    before a purchase shares that purchase's credit equally; total
    credit per touch channel — marketing analytics' default model.

    The touch join is q66's bounded event-time range join shape
    (user-keyed equi join + time-range residual — never a cross
    product); per-purchase credit normalization is a pid-partitioned
    window over the per-(purchase, channel) counts (purchase-
    dimension input). Credits are exact p/q rationals with q ≤ the
    7-day touch count, so the decimal(28,10) cast is deterministic
    and the final sum order-independent."""
    ev = load_table(spark, sf_dir, "events")
    p = (ev.filter(F.col("event_type") == "purchase")
         .select(F.col("event_id").alias("pid"), "user_id",
                 F.col("ts").alias("pts")))
    touch = (
        ev.filter(F.col("event_type").isin("view", "click"))
        .join(p, "user_id")
        .filter((F.col("ts") <= F.col("pts"))
                & (F.col("ts") >= F.col("pts") - F.expr("INTERVAL 7 DAYS")))
        .select("pid", "event_type")
    )
    per = touch.groupBy("pid", "event_type").agg(
        F.count(F.lit(1)).alias("k"))
    wp = Window.partitionBy("pid")
    credit = per.select(
        "pid", "event_type",
        (F.col("k").cast("double") / F.sum("k").over(wp)).alias("c"),
    )
    return credit.groupBy("event_type").agg(
        F.sum(F.col("c").cast("decimal(28,10)")).cast("double")
        .alias("total_credit"),
        F.countDistinct("pid").alias("n_purchases_touched"),
    )


@register(
    "q115_waiting_orders",
    oracle="""
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_late_exclusive
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_orderstatus = 'F'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate >= o.o_orderdate + INTERVAL 60 DAY)
      AND NOT EXISTS (SELECT 1 FROM lineitem l2
                      WHERE l2.l_orderkey = o.o_orderkey
                        AND l2.l_shipdate < o.o_orderdate + INTERVAL 10 DAY)
    GROUP BY c.c_mktsegment
    """,
)
def q115_waiting_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-shaped EXISTS + NOT-EXISTS composition: finished
    orders that had some lineitem ship ≥60 days after ordering AND no
    lineitem ship within the first 10 days, counted per customer
    segment — the 'every path was slow' multi-correlated predicate.

    Spark shape: the two correlated subqueries become one left-semi
    and one left-anti join against differently-filtered projections
    of the SAME lineitem scan, both equi-keyed on orderkey — Catalyst
    plans two hash joins, no per-row subquery execution, and the
    orders/lineitem shuffles are key-partitioned (AQE handles skew).
    The semi/anti pair is how every decorrelated EXISTS lands at
    100 TB."""
    from hearthstats_spark.io import load_tables

    t = load_tables(spark, sf_dir, ("orders", "customer", "lineitem"))
    o = t["orders"].filter(F.col("o_orderstatus") == "F")
    li = t["lineitem"].select("l_orderkey", "l_shipdate")
    late = o.join(
        li, (li.l_orderkey == o.o_orderkey)
        & (li.l_shipdate >= F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    exclusive = late.join(
        li, (li.l_orderkey == late.o_orderkey)
        & (li.l_shipdate < F.col("o_orderdate") + F.expr("INTERVAL 10 DAYS")),
        "left_anti",
    )
    return (
        exclusive.join(t["customer"],
                       exclusive.o_custkey == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_late_exclusive"))
    )


@register(
    "q116_decile_lift",
    oracle=f"""
    WITH spend AS (
        SELECT o_custkey,
               {fsum_sql("o_totalprice", "spend")}
        FROM orders GROUP BY o_custkey
    ),
    pos AS (
        SELECT spend,
               -- NULLS FIRST: the rank kernel's declared NULL
               -- placement (a customer whose every order price is
               -- NULL has NULL spend and ranks below all priced
               -- customers; DuckDB's bare ASC would put it last)
               ROW_NUMBER() OVER (ORDER BY spend NULLS FIRST,
                                  o_custkey) AS p,
               COUNT(*) OVER () AS n
        FROM spend
    ),
    dec AS (SELECT ((p - 1) * 10) // n + 1 AS decile, spend FROM pos),
    agg AS (
        SELECT CAST(decile AS INT) AS decile,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               {fsum_sql("spend", "decile_rev")}
        FROM dec GROUP BY decile
    ),
    tot AS (SELECT CAST(SUM(CAST(decile_rev AS DECIMAL(28,4)))
                        AS DOUBLE) AS t FROM agg)
    SELECT decile, n_customers,
           ROUND(decile_rev, 4) AS decile_rev,
           ROUND(decile_rev / t, 4) AS rev_share,
           ROUND(CAST(SUM(CAST(decile_rev AS DECIMAL(28,4))) OVER
                      (ORDER BY decile DESC
                       ROWS UNBOUNDED PRECEDING) AS DOUBLE) / t, 4)
               AS cum_share_from_top
    FROM agg, tot
    """,
)
def q116_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-value decile lift table: customers ranked by total
    spend, cut into 10 equal-depth buckets, each decile's revenue
    share and the cumulative share captured from the top down — the
    propensity/churn model evaluation table.

    The global ranking uses the two-pass range-partitioned kernel
    (`with_global_position` — no single-task sort at any scale); the
    decile cut is exact integer math on the position. The only
    whole-frame window runs AFTER aggregation to 10 rows (allowlisted
    like q92's post-limit rank), and the total rides a broadcast
    1-row cross join (q53 shape).

    The spend frame (one row per customer — the aggregated SMALL
    side) is localCheckpoint'ed because the position kernel walks it
    three times (quantile boundaries, bucket counts, output plan);
    without the barrier each walk repeats the orders scan+shuffle
    (q117's deltas lesson applied to the position variant)."""
    from hearthstats_spark.operators.rankops import with_global_position

    o = load_table(spark, sf_dir, "orders")
    spend = (o.groupBy("o_custkey").agg(dsum("o_totalprice", "spend"))
             .localCheckpoint())
    posed, n = with_global_position(
        spend, "spend", tiebreak=("o_custkey",), pos_col="__pos")
    dec = posed.select(
        F.expr(f"CAST(((__pos - 1) * 10) DIV {n} AS INT) + 1")
        .alias("decile"),
        "spend",
    )
    agg = dec.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        dsum("spend", "decile_rev"),
    )
    tot = agg.agg(
        F.sum(F.col("decile_rev").cast(DEC)).cast("double").alias("t"))
    wcum = (Window.orderBy(F.col("decile").desc())
            .rowsBetween(Window.unboundedPreceding, 0))
    return (
        agg.crossJoin(F.broadcast(tot))
        .select(
            "decile", "n_customers",
            F.round("decile_rev", 4).alias("decile_rev"),
            F.round(F.col("decile_rev") / F.col("t"), 4)
            .alias("rev_share"),
            F.round(
                F.sum(F.col("decile_rev").cast(DEC)).over(wcum)
                .cast("double") / F.col("t"), 4)
            .alias("cum_share_from_top"),
        )
    )


@register(
    "q117_order_concurrency",
    oracle="""
    WITH iv AS (
        SELECT o.o_orderkey,
               date_trunc('day', o.o_orderdate) AS s,
               date_trunc('day', MAX(l.l_shipdate)) + INTERVAL 1 DAY
                   AS e
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderkey, o.o_orderdate
    ),
    deltas AS (
        SELECT day, CAST(SUM(d) AS BIGINT) AS delta
        FROM (SELECT s AS day, 1 AS d FROM iv
              UNION ALL SELECT e AS day, -1 AS d FROM iv)
        GROUP BY day
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, delta,
           CAST(SUM(delta) OVER (ORDER BY day
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS concurrent
    FROM deltas
    """,
)
def q117_order_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap counting by sweep line: how many orders are
    'open' (ordered but not fully shipped) at each change point — the
    occupancy/concurrency curve (active sessions, hotel nights, WIP
    inventory all share this shape).

    The naive form is a per-day interval self-join (quadratic-ish and
    shuffle-heavy); the sweep line is linear: every interval becomes
    a +1 at its start day and a −1 the day after its end, one hash
    agg collapses deltas per day, and the running total is the EXACT
    distributed prefix sum (`with_global_prefix_sum` — range-bucketed
    two-pass, no global single-task window; negative deltas
    accumulate fine). Only change-point days are emitted (the curve
    is constant between them).

    Shuffle order matters: lineitem pre-aggregates to one
    (orderkey, last_ship) row BEFORE touching orders — the partial
    agg combines map-side, so the fact table crosses the wire once
    at ~1/4 the rows and the orderkey exchange it leaves behind
    already satisfies the join's distribution (join ⊂ agg key). The
    join-first form shuffles the full joined frame a second time for
    the groupBy; o_orderkey is unique in orders, so grouping the
    joined frame by (o_orderkey, o_orderdate) and pre-aggregating
    lineitem by l_orderkey are row-identical.

    Both sweep events leave one interval row via a 2-element
    struct-array explode — a UNION ALL of two projections of ``iv``
    embeds the join/agg subtree twice and executes it per branch.
    The collapsed delta table (O(distinct days) rows) is
    localCheckpoint'ed because the prefix kernel walks it three
    times (quantile boundaries, per-bucket sums, the output plan);
    without the barrier each walk re-runs the fact-table agg."""
    from hearthstats_spark.operators.rankops import with_global_prefix_sum

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    iv = (
        li.groupBy("l_orderkey")
        .agg(F.max("l_shipdate").alias("last_ship"))
        .join(o.select("o_orderkey", "o_orderdate"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.date_trunc("day", "o_orderdate").alias("s"),
            (F.date_trunc("day", "last_ship")
             + F.expr("INTERVAL 1 DAY")).alias("e"),
        )
    )
    deltas = (
        iv.select(F.explode(F.array(
            F.struct(F.col("s").alias("day"), F.lit(1).alias("d")),
            F.struct(F.col("e").alias("day"), F.lit(-1).alias("d")),
        )).alias("ev"))
        .groupBy(F.col("ev.day").alias("day"))
        .agg(F.sum("ev.d").alias("delta"))
        .withColumn("__ord", F.col("day").cast("long"))
        .localCheckpoint()
    )
    cum, _total = with_global_prefix_sum(
        deltas, "__ord", "delta", cum_col="concurrent")
    return cum.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "delta",
        F.col("concurrent").cast("long").alias("concurrent"),
    )
