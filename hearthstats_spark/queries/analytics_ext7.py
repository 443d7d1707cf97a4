"""Round-4 analytics extensions, batch 3 (SURVEY.md §2 group [E7]):

- q163 BPE pair-frequency counting (the tokenizer-training inner loop)
- q164 rendezvous (HRW) sharding with the minimal-disruption property
  verified IN the result
- q165 classifier evaluation metrics (confusion matrix + exact-ratio
  precision/recall/F1 over q56's language-ID predictions)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hearthstats_spark.functions.numeric import dratio, fratio_sql
from hearthstats_spark.io import load_table
from hearthstats_spark.queries.registry import register

_BPE_TOPN = 20


@register(
    "q163_bpe_pair_counts",
    oracle=f"""
    WITH words AS (
        SELECT unnest(string_split(text, ' ')) AS w
        FROM documents WHERE text IS NOT NULL
    ),
    pairs AS (
        -- series bound 4096 (matching the shingle oracles), not a
        -- tight cap: the Spark side enumerates positions unbounded,
        -- so a token longer than the bound would silently drop
        -- pairs on the oracle side only (ADVICE r4)
        SELECT substr(w, i, 2) AS pair, COUNT(*) AS cnt
        FROM words CROSS JOIN generate_series(1, 4096) g(i)
        WHERE i <= length(w) - 1
        GROUP BY 1
    )
    SELECT pair, CAST(cnt AS BIGINT) AS cnt
    FROM pairs ORDER BY cnt DESC, pair LIMIT {_BPE_TOPN}
    """,
)
def q163_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-candidate counting — the inner loop of byte-pair-
    encoding tokenizer training: count every adjacent symbol pair
    inside every word occurrence (with corpus multiplicity, the way
    BPE weights merges) and rank the top-{n} merge candidates. One
    full BPE train iterates this against an evolving vocab; the
    count step is the part that touches all 100 TB and therefore the
    part that must be a distributed hash agg, which this is — the
    merge-apply step mutates a vocab-sized table on the driver side
    of any engine.

    Shape: explode words → explode character positions via a bounded
    sequence (word length caps the fan-out; substr(w, i, 2) avoids
    materializing a char array) → ONE hash agg riding partial
    aggregation → orderBy+LIMIT top-k (per-partition heaps). Counts
    are exact integers; ties broken by pair text."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull())
    words = d.select(F.explode(F.split("text", " ")).alias("w"))
    pairs = (
        words.select(
            "w",
            # greatest(...,1): Spark's sequence(1, 0) runs DESCENDING
            # ([1, 0]) instead of empty, which would fabricate a pair
            # for single-char words; the filter then drops the
            # placeholder element for them
            F.explode(F.sequence(
                F.lit(1), F.greatest(F.length("w") - 1, F.lit(1))))
            .alias("i"))
        .filter(F.col("i") <= F.length("w") - 1)
        .select(F.expr("substr(w, i, 2)").alias("pair"))
    )
    cnt = pairs.groupBy("pair").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"))
    return cnt.orderBy(F.col("cnt").desc(), "pair").limit(_BPE_TOPN)


_HRW_N = 8  # shard count; the consistency check removes shard N-1


def _hrw_score_spark(key_col, shard_col):
    """md5-derived 31-bit score, the q118 base-hash discipline —
    identical BIGINT arithmetic on both engines."""
    return F.conv(
        F.substring(
            F.md5(F.concat(key_col.cast("string"), F.lit(":"),
                           shard_col.cast("string")).cast("binary")),
            1, 8), 16, 10).cast("bigint")


def _hrw_score_sql(key: str, shard: str) -> str:
    return (f"CAST(CONCAT('0x', SUBSTRING(md5({key} || ':' "
            f"|| {shard}), 1, 8)) AS BIGINT)")


@register(
    "q164_shard_rendezvous",
    oracle=f"""
    WITH ids AS (SELECT doc_id, n_chars FROM documents),
    sc AS (
        SELECT doc_id, n_chars, g.s AS shard,
               {_hrw_score_sql('CAST(doc_id AS VARCHAR)',
                               'CAST(g.s AS VARCHAR)')} AS score
        FROM ids CROSS JOIN generate_series(0, {_HRW_N - 1}) g(s)
    ),
    pick8 AS (
        SELECT doc_id, n_chars, shard FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                ORDER BY score DESC, shard) AS rk FROM sc)
        WHERE rk = 1
    ),
    pick7 AS (
        SELECT doc_id, shard AS shard7 FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                ORDER BY score DESC, shard) AS rk
            FROM sc WHERE shard < {_HRW_N - 1})
        WHERE rk = 1
    )
    SELECT p8.shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(p8.n_chars) AS BIGINT) AS n_chars,
           CAST(SUM(CASE WHEN p8.shard <> {_HRW_N - 1}
                          AND p7.shard7 <> p8.shard
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_moved_improperly
    FROM pick8 p8 JOIN pick7 p7 ON p7.doc_id = p8.doc_id
    GROUP BY 1
    """,
)
def q164_shard_rendezvous(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight) sharding: every doc goes to
    the shard with the highest md5-derived (doc, shard) score — the
    consistent-assignment primitive behind shard routing, cache
    placement, and incremental repartitioning. HRW's guarantee is
    MINIMAL DISRUPTION: removing one shard relocates ONLY that
    shard's keys. The query verifies the property in-band: it
    computes the assignment for N={n} and N={n}-1 shards and reports,
    per shard, how many docs moved that should not have —
    n_moved_improperly must be 0 on every row (hash-checked by the
    oracle, asserted in tests).

    Scale: the fan-out is ids × N (8-byte keys, not payloads), one
    row_number window per doc keyed on doc_id, then a shard-sized
    agg. Scores are the q118 md5→BIGINT discipline, so both engines
    replay the same placement bit-for-bit — which is the operational
    point: ANY engine (or service) that implements the same score
    agrees on where every key lives."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    shards = spark.range(_HRW_N).select(
        F.col("id").cast("int").alias("shard"))
    sc = (d.crossJoin(F.broadcast(shards))
          .withColumn("score",
                      _hrw_score_spark(F.col("doc_id"), F.col("shard"))))
    sc = sc.cache()  # pick8 and pick7 both rank this frame
    pick = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), "shard")
    p8 = (sc.withColumn("rk", F.row_number().over(pick))
          .filter(F.col("rk") == 1)
          .select("doc_id", "n_chars", "shard"))
    p7 = (sc.filter(F.col("shard") < _HRW_N - 1)
          .withColumn("rk", F.row_number().over(pick))
          .filter(F.col("rk") == 1)
          .select("doc_id", F.col("shard").alias("shard7")))
    return (
        p8.join(p7, "doc_id")
        .groupBy("shard")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
             F.sum("n_chars").cast("bigint").alias("n_chars"),
             F.sum(F.when((F.col("shard") != _HRW_N - 1)
                          & (F.col("shard7") != F.col("shard")), 1)
                   .otherwise(0)).cast("bigint")
             .alias("n_moved_improperly"))
    )


@register(
    "q165_eval_confusion_metrics",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
        FROM documents
    ),
    lang_term AS (
        SELECT lang, term, COUNT(*) AS n
        FROM tok GROUP BY lang, term
    ),
    markers AS (
        SELECT lang AS pred_lang, term
        FROM (SELECT lang, term,
                     ROW_NUMBER() OVER (PARTITION BY lang
                         ORDER BY n DESC, term) AS rk
              FROM lang_term)
        WHERE rk <= 10
    ),
    scores AS (
        SELECT t.doc_id, m.pred_lang, COUNT(*) AS score
        FROM tok t JOIN markers m ON t.term = m.term
        GROUP BY t.doc_id, m.pred_lang
    ),
    dense AS (
        SELECT d.doc_id, d.lang AS true_lang, l.pred_lang,
               COALESCE(s.score, 0) AS score
        FROM documents d
        CROSS JOIN (SELECT DISTINCT lang AS pred_lang FROM documents) l
        LEFT JOIN scores s
          ON s.doc_id = d.doc_id AND s.pred_lang = l.pred_lang
    ),
    preds AS (
        SELECT doc_id, true_lang, pred_lang
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                  ORDER BY score DESC, pred_lang) AS rk FROM dense)
        WHERE rk = 1
    ),
    per_class AS (
        SELECT c.lang,
               (SELECT COUNT(*) FROM preds
                WHERE true_lang = c.lang) AS n_true,
               (SELECT COUNT(*) FROM preds
                WHERE pred_lang = c.lang) AS n_pred,
               (SELECT COUNT(*) FROM preds
                WHERE true_lang = c.lang
                  AND pred_lang = c.lang) AS tp
        FROM (SELECT DISTINCT lang FROM documents) c
    )
    SELECT lang,
           CAST(n_true AS BIGINT) AS n_true,
           CAST(n_pred AS BIGINT) AS n_pred,
           CAST(tp AS BIGINT) AS tp,
           {fratio_sql('tp', 'GREATEST(n_pred, 1)', 'precision')},
           {fratio_sql('tp', 'GREATEST(n_true, 1)', 'recall')},
           {fratio_sql('2 * tp',
                       'GREATEST(n_pred + n_true, 1)', 'f1')}
    FROM per_class
    """,
)
def q165_eval_confusion_metrics(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Classifier evaluation over q56's language-ID predictions:
    per-class precision, recall, and F1 from the confusion counts —
    the eval-harness aggregation every model pipeline runs after
    inference (here the 'model' is the engine's own q56 heuristic, so
    the whole train→predict→evaluate loop is in-engine and
    oracle-checkable).

    Metric exactness: precision = tp/pred, recall = tp/true, and F1
    collapses to the SINGLE ratio 2tp/(pred+true) (avoiding the
    2PR/(P+R) float chain entirely) — all three through the exact
    half-away kernel; zero-denominator classes guarded to 0 by
    GREATEST(…, 1) (tp = 0 whenever the guard binds, so the value is
    exact, not clamped). Composes q56's fn directly — registered
    queries are ordinary functions, the composability the registry
    is for. One prediction pass + a class-sized agg."""
    from hearthstats_spark.queries.textops import q56_text_langid

    # both confusion branches (groupBy true_lang / pred_lang) read the
    # prediction frame; cache it so the q56 subplan — and its two
    # guarded broadcasts — execute once, not twice (VERDICT r6 item 2)
    preds = q56_text_langid(spark, sf_dir).cache()
    per_class = (
        preds.groupBy(F.col("true_lang").alias("lang"))
        .agg(F.count(F.lit(1)).alias("n_true"),
             F.sum("is_correct").alias("tp"))
        .join(preds.groupBy(F.col("pred_lang").alias("lang"))
              .agg(F.count(F.lit(1)).alias("n_pred")),
              "lang", "full")
        .select(
            "lang",
            F.coalesce("n_true", F.lit(0)).alias("n_true"),
            F.coalesce("n_pred", F.lit(0)).alias("n_pred"),
            F.coalesce("tp", F.lit(0)).alias("tp"))
    )
    return per_class.select(
        "lang",
        F.col("n_true").cast("bigint").alias("n_true"),
        F.col("n_pred").cast("bigint").alias("n_pred"),
        F.col("tp").cast("bigint").alias("tp"),
        dratio(F.col("tp"), F.greatest("n_pred", F.lit(1)), "precision"),
        dratio(F.col("tp"), F.greatest("n_true", F.lit(1)), "recall"),
        dratio(2 * F.col("tp"),
               F.greatest(F.col("n_pred") + F.col("n_true"), F.lit(1)),
               "f1"),
    )


@register(
    "q166_rolling_distinct_delta",
    oracle="""
    WITH hu AS (
        SELECT DISTINCT date_trunc('hour', ts) AS h, event_type, user_id
        FROM events
    ),
    contrib AS (
        SELECT DISTINCT event_type, user_id,
               h + i * INTERVAL 1 HOUR AS win
        FROM hu CROSS JOIN unnest(generate_series(0, 23)) t(i)
    )
    SELECT strftime(win, '%Y-%m-%d %H:%M') AS win_end_hour,
           event_type,
           COUNT(*) AS users_24h
    FROM contrib GROUP BY 1, 2
    """,
)
def q166_rolling_distinct_delta(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Trailing-24h distinct users per type — q100's EXACT semantics
    (same oracle text) through the delta-sweep kernel that survives a
    100× scale-up where q100's contribution expansion starts to
    hurt: q100 fans every distinct (hour, type, user) triple out 24×
    and dedups the result (24 rows per triple through two shuffles).
    Here each user's active hours are merged into covered WINDOW
    INTERVALS first (gaps-and-islands, q152's kernel, user-keyed —
    hours h..h' cover windows [h, h'+23]), each island emits exactly
    TWO deltas (+1 at its first window, −1 after its last), and the
    per-type answer is a running sum of deltas over the dense window
    grid. Data-sized shuffles: one distinct on (type, user, hour),
    one user-keyed window, one tiny delta agg — the 24× factor now
    multiplies only the (type × active-hour) GRID, not users.

    The grid (and the prefix sum over it) is type-keyed and
    hour-cardinality-sized — thousands of rows per year regardless
    of user count, safe as a window partition at any scale. Windows
    with zero coverage are absent from the grid on both engines
    (identical emitted set — the property that lets q100's oracle be
    reused verbatim; the cross-check IS the point: two independent
    kernels, one truth).

    Optimization round 11: the kernel body moved verbatim to
    operators/rolling.rolling_distinct_delta so q100 and q151's
    exact twin share it (guide §2.3 — the expansion kernel's 24×
    fan-out multiplied a user-sized shuffle); the expansion twin
    lives beside it for tests/test_ext5.py's equality cross-check."""
    ev = load_table(spark, sf_dir, "events")
    from hearthstats_spark.operators.rolling import rolling_distinct_delta

    return rolling_distinct_delta(ev)


@register(
    "q167_iqr_outliers",
    oracle="""
    WITH r AS (
        SELECT o_orderpriority AS grp, o_totalprice AS v,
               ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice, o_orderkey)
                   AS rn,
               COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
        -- declared: quantiles are over the NON-NULL values (SQL
        -- aggregate-percentile semantics; null-measures axis — an
        -- in-window NULL lands at opposite ends of the two engines'
        -- default sorts and poisons the rank-at-ceil pick)
        FROM orders WHERE o_totalprice IS NOT NULL
    ),
    q AS (
        SELECT grp,
               MAX(CASE WHEN rn = CAST(CEIL(0.25 * n) AS BIGINT)
                        THEN v END) AS q1,
               MAX(CASE WHEN rn = CAST(CEIL(0.75 * n) AS BIGINT)
                        THEN v END) AS q3,
               CAST(MAX(n) AS BIGINT) AS n
        FROM r GROUP BY 1
    )
    SELECT r.grp, q.q1, q.q3, q.n,
           CAST(SUM(CASE WHEN 2 * r.v < 5 * q.q1 - 3 * q.q3
                           OR 2 * r.v > 5 * q.q3 - 3 * q.q1
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM r JOIN q ON q.grp = r.grp
    GROUP BY 1, 2, 3, 4
    """,
)
def q167_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence (IQR) outlier screen per order priority —
    completing the classical outlier trio beside q104 (rolling
    z-score) and q110 (MAD): rows outside
    [Q1 − 1.5·IQR, Q3 + 1.5·IQR] counted per group.

    Exactness without a single float multiply: quartiles use the
    percentile_disc rank-at-ceil(q·n) formulation (q145 — always a
    REAL data value), and the fence comparisons are cleared of the
    1.5 factor algebraically — v < Q1 − 1.5(Q3−Q1) ⟺
    2v < 5·Q1 − 3·Q3 — so both engines compare exact sums of
    doubles scaled by small INTEGER coefficients (identical IEEE
    ops on identical inputs; no 1.5·x rounding surface). Two window
    passes + one join back, all keyed on the group — one Exchange."""
    o = load_table(spark, sf_dir, "orders").where(
        # declared NULL policy: quantiles over non-null values only
        F.col("o_totalprice").isNotNull()
    ).select(
        F.col("o_orderpriority").alias("grp"),
        F.col("o_totalprice").alias("v"),
        "o_orderkey")
    w = Window.partitionBy("grp").orderBy("v", "o_orderkey")
    r = o.select(
        "grp", "v",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("grp")).alias("n"))
    pick = (lambda p: F.max(F.when(
        F.col("rn") == F.ceil(F.lit(p) * F.col("n")).cast("bigint"),
        F.col("v"))))
    q = (r.groupBy("grp")
         .agg(pick(0.25).alias("q1"), pick(0.75).alias("q3"),
              F.max("n").cast("bigint").alias("n_grp")))
    low = 2 * F.col("v") < 5 * F.col("q1") - 3 * F.col("q3")
    high = 2 * F.col("v") > 5 * F.col("q3") - 3 * F.col("q1")
    return (
        r.select("grp", "v").join(q, "grp")
        .groupBy("grp", "q1", "q3", F.col("n_grp").alias("n"))
        .agg(F.sum(F.when(low | high, 1).otherwise(0)).cast("bigint")
             .alias("n_outliers"))
    )


_SALT_N = 16


@register(
    "q168_salted_agg",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE)
               AS revenue,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_key
    FROM orders
    GROUP BY 1
    """,
)
def q168_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase aggregation — the skew lever for a HOT GROUP
    KEY (q80 salts a join; this salts the aggregation itself): phase
    1 aggregates (key, salt) with a per-row nonce spreading each hot
    key over {n} reducers, phase 2 re-aggregates the x{n}-sized
    partials to the final key. Correct for any algebraic aggregate
    (count/sum/max compose; the oracle is the PLAIN group-by, so the
    equivalence is hash-checked, not asserted). With only 5 priority
    groups, an unsalted agg at 100 TB puts a fifth of the table
    through one reducer whatever the shuffle partition count — the
    salt makes reducer load uniform at the cost of a tiny second hash
    agg.

    Note Spark's own partial aggregation already does map-side
    combining, which solves MOST group skew; explicit salting is the
    documented escape hatch for high-cardinality-payload aggregates
    (collect/distinct-ish state) where partials stay large — the
    pattern is declared here on algebraic aggs so it stays
    oracle-checkable."""
    o = load_table(spark, sf_dir, "orders")
    salted = o.withColumn(
        "__salt", F.pmod(F.xxhash64("o_orderkey"), F.lit(_SALT_N)))
    phase1 = (salted.groupBy("o_orderpriority", "__salt")
              .agg(F.count(F.lit(1)).alias("n"),
                   F.sum(F.col("o_totalprice").cast("decimal(28,4)"))
                   .alias("rev"),
                   F.max("o_orderkey").alias("mk")))
    return (phase1.groupBy("o_orderpriority")
            .agg(F.sum("n").cast("bigint").alias("n_orders"),
                 F.sum("rev").cast("double").alias("revenue"),
                 F.max("mk").cast("bigint").alias("max_key")))


_ALLOC_TOTAL = 1_000_000  # budget units to allocate across nations


@register(
    "q169_largest_remainder_alloc",
    oracle=f"""
    WITH rev AS (
        SELECT n.n_name,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(28,4)))
                    AS DECIMAL(28,4)) AS r
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY 1
    ),
    t AS (SELECT SUM(r) AS tot, COUNT(*) AS n_grp FROM rev),
    q AS (
        -- remainder arithmetic in exact 10^-4 units on BOTH engines
        -- (r and tot are DECIMAL(.,4): ×10000 is integral, so the
        -- casts are exact — no whole-unit rounding of tot that
        -- could reorder near-tied remainders)
        SELECT n_name, r,
               CAST((CAST(r * 10000 AS HUGEINT) * {_ALLOC_TOTAL}
                     - (CAST(r * 10000 AS HUGEINT) * {_ALLOC_TOTAL}
                        % CAST(tot * 10000 AS HUGEINT)))
                    // CAST(tot * 10000 AS HUGEINT) AS BIGINT) AS fl,
               CAST(r * 10000 AS HUGEINT) * {_ALLOC_TOTAL}
                   % CAST(tot * 10000 AS HUGEINT) AS rem
        FROM rev, t
    ),
    short AS (
        SELECT {_ALLOC_TOTAL} - SUM(fl) AS k FROM q
    ),
    rk AS (
        SELECT n_name, fl, rem,
               ROW_NUMBER() OVER (ORDER BY rem DESC, n_name) AS pos
        FROM q
    )
    SELECT n_name,
           CAST(fl + CASE WHEN pos <= (SELECT k FROM short)
                          THEN 1 ELSE 0 END AS BIGINT) AS alloc
    FROM rk
    """,
)
def q169_largest_remainder_alloc(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) allocation: split a fixed budget
    of {T} units across nations proportionally to revenue so the
    integer parts SUM EXACTLY to the budget — the rounding problem
    every finance/quota/seat-apportionment pipeline hits (naive
    per-row ROUND leaves the total off by up to n_groups/2). Floor
    each exact share, then hand the shortfall out one unit at a time
    by descending remainder (ties by name).

    Exactness: revenue shares are exact decimals; the floored share
    and remainder come from exact decimal/HUGEINT arithmetic on both
    engines (the davg subtract-mod idiom — no float division
    anywhere); the shortfall k < n_groups, so the rank window runs
    over group-cardinality rows. Two group-sized aggs + one tiny
    window; the only scan-sized work is the revenue join."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    # customer is SF-linear — no broadcast hint (AQE decides);
    # nation is 25 rows forever, so its hint stays (VERDICT r4 #1).
    rev = (o.join(c.select("c_custkey", "c_nationkey"),
                  o["o_custkey"] == F.col("c_custkey"))
           .join(F.broadcast(n),
                 F.col("c_nationkey") == F.col("n_nationkey"))
           .groupBy("n_name")
           .agg(F.sum(F.col("o_totalprice").cast("decimal(28,4)"))
                .alias("r")))
    t = rev.agg(F.sum("r").alias("tot"))
    # remainder arithmetic in exact 10^-4 units (ADVICE r4): both
    # engines share ONE integer formula — r·10⁴ and tot·10⁴ are
    # integral (scale-4 decimals), so floor and remainder come from
    # exact integer-valued decimal(38,0) arithmetic with no
    # whole-unit rounding of tot
    rnum = (F.col("r") * 10000).cast("decimal(38,0)") \
        * F.lit(_ALLOC_TOTAL).cast("decimal(38,0)")
    tden = (F.col("tot") * 10000).cast("decimal(38,0)")
    q = (rev.crossJoin(F.broadcast(t))
         .select(
             "n_name", "r",
             # exact floor(rnum/tden): subtract the remainder first
             ((rnum - (rnum % tden)) / tden).cast("bigint").alias("fl"),
             (rnum % tden).alias("rem")))
    q = q.localCheckpoint()  # shortfall agg + rank both read it
    short = q.agg((F.lit(_ALLOC_TOTAL) - F.sum("fl")).alias("k"))
    w = Window.orderBy(F.col("rem").desc(), "n_name")
    return (q.withColumn("pos", F.row_number().over(w))
            .crossJoin(F.broadcast(short))
            .select(
                "n_name",
                (F.col("fl") + F.when(F.col("pos") <= F.col("k"), 1)
                 .otherwise(0)).cast("bigint").alias("alloc")))


_KANON = 5  # k-anonymity threshold


@register(
    "q170_kanonymity_audit",
    oracle=f"""
    WITH qi AS (
        SELECT c.c_nationkey AS qi_nation,
               o.o_orderpriority AS qi_priority,
               strftime(date_trunc('month', o.o_orderdate), '%Y-%m')
                   AS qi_month,
               o.o_orderkey
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    cls AS (
        SELECT qi_nation, qi_priority, qi_month, COUNT(*) AS sz
        FROM qi GROUP BY 1, 2, 3
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(SUM(CASE WHEN sz < {_KANON} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_violating_classes,
           CAST(SUM(CASE WHEN sz < {_KANON} THEN sz ELSE 0 END)
                AS BIGINT) AS n_rows_at_risk,
           CAST(MIN(sz) AS BIGINT) AS min_class_size,
           CAST(SUM(sz) AS BIGINT) AS n_rows
    FROM cls
    """,
)
def q170_kanonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier tuple
    (nation, order priority, order month): how many equivalence
    classes fall below k={k} members, and how many rows sit in them —
    the data-governance gate a dataset must pass before release (a
    row in a small class is re-identifiable by joining public
    attributes). Complements the PII surface (q90 redacts direct
    identifiers; this measures INDIRECT identifiability).

    Shape: one hash agg to class sizes (quasi-identifier
    cardinality-sized), one summary agg — the audit is as cheap as a
    group-by at any scale, which is exactly why it belongs in the
    pipeline rather than a sampled offline check. All counts exact
    BIGINT."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    # customer is SF-linear — no broadcast hint; AQE decides at
    # runtime (VERDICT r4 #1).
    qi = (o.join(c.select("c_custkey", "c_nationkey"),
                 o["o_custkey"] == F.col("c_custkey"))
          .select(
              F.col("c_nationkey").alias("qi_nation"),
              F.col("o_orderpriority").alias("qi_priority"),
              F.date_format(F.date_trunc("month", "o_orderdate"),
                            "yyyy-MM").alias("qi_month")))
    cls = (qi.groupBy("qi_nation", "qi_priority", "qi_month")
           .agg(F.count(F.lit(1)).alias("sz")))
    small = F.col("sz") < _KANON
    return cls.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.sum(F.when(small, 1).otherwise(0)).cast("bigint")
        .alias("n_violating_classes"),
        F.sum(F.when(small, F.col("sz")).otherwise(0)).cast("bigint")
        .alias("n_rows_at_risk"),
        F.min("sz").cast("bigint").alias("min_class_size"),
        F.sum("sz").cast("bigint").alias("n_rows"),
    )


@register(
    "q171_share_of_parent",
    oracle=f"""
    WITH rev AS (
        SELECT r.r_name, n.n_name,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(28,4)))
                    AS DECIMAL(28,4)) AS rv
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
        GROUP BY 1, 2
    ),
    lv AS (
        SELECT r_name, n_name,
               CAST(SUM(rv) AS DECIMAL(28,4)) AS rv,
               GROUPING(r_name) AS g_r, GROUPING(n_name) AS g_n
        FROM rev GROUP BY ROLLUP (r_name, n_name)
        -- no-op on any non-empty rev (every rollup group aggregates
        -- >= 1 row); on an EMPTY corpus it suppresses SQL's
        -- grand-total row, which Spark's rollup() does not emit
        -- (degenerate-corpus audit, scripts/audit_degenerate.py)
        HAVING COUNT(*) > 0
    ),
    tot AS (SELECT rv FROM lv WHERE g_r = 1),
    reg AS (SELECT r_name, rv FROM lv WHERE g_r = 0 AND g_n = 1),
    wp AS (
        SELECT lv.*, CASE WHEN lv.g_r = 1 THEN lv.rv
                          WHEN lv.g_n = 1 THEN (SELECT rv FROM tot)
                          ELSE reg.rv END AS parent_rv
        FROM lv LEFT JOIN reg ON reg.r_name = lv.r_name AND lv.g_n = 0
    )
    SELECT
        CASE WHEN g_r = 1 THEN 'TOTAL' ELSE r_name END AS region,
        CASE WHEN g_n = 1 THEN '*' ELSE n_name END AS nation,
        CAST(rv AS DOUBLE) AS revenue,
        {fratio_sql('rv * 10000', 'CAST(parent_rv * 10000 AS HUGEINT)',
                    'share_of_parent')}
    FROM wp
    """,
)
def q171_share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical share-of-parent — the OLAP drill-down readout:
    one ROLLUP pass produces nation rows, region subtotals, and the
    grand total; every row then carries its share of its PARENT
    level (nation/region for leaves, region/total for subtotals,
    total/total = 1 for the root). The share-of-parent column is what
    distinguishes this from q18's plain rollup: it requires joining
    each level back to the level above, and the ratio must round
    identically on both engines (exact half-away kernel — revenue
    ratios land on 4dp boundaries constantly).

    Shape: one fact-sized join+agg to (region, nation) grain, a
    rollup over the TINY grouped frame (≤ 31 rows), a broadcast-sized
    self-join per level. GROUPING() flags (not NULL checks) decide
    levels — the only NULL-proof way to distinguish 'subtotal row'
    from 'a key that IS null' (q18/q20's discipline)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    # customer is SF-linear — no broadcast hint (AQE decides);
    # nation (25 rows) and region (5 rows) keep theirs.
    rev = (o.join(c.select("c_custkey", "c_nationkey"),
                  o["o_custkey"] == F.col("c_custkey"))
           .join(F.broadcast(n.select("n_nationkey", "n_name",
                                      "n_regionkey")),
                 F.col("c_nationkey") == F.col("n_nationkey"))
           .join(F.broadcast(r.select("r_regionkey", "r_name")),
                 F.col("n_regionkey") == F.col("r_regionkey"))
           .groupBy("r_name", "n_name")
           .agg(F.sum(F.col("o_totalprice").cast("decimal(28,4)"))
                .alias("rv")))
    lv = (rev.rollup("r_name", "n_name")
          .agg(F.sum("rv").cast("decimal(28,4)").alias("rv"),
               F.grouping("r_name").alias("g_r"),
               F.grouping("n_name").alias("g_n"))
          .localCheckpoint())  # three level frames read it (≤31 rows)
    tot = (lv.filter(F.col("g_r") == 1)
           .select(F.col("rv").alias("tot_rv")))
    reg = (lv.filter((F.col("g_r") == 0) & (F.col("g_n") == 1))
           .select(F.col("r_name").alias("reg_name"),
                   F.col("rv").alias("reg_rv")))
    base = (lv.crossJoin(F.broadcast(tot))
            .join(F.broadcast(reg),
                  (F.col("reg_name") == F.col("r_name"))
                  & (F.col("g_n") == 0), "left"))
    parent = (F.when(F.col("g_r") == 1, F.col("rv"))   # root: itself
              .when(F.col("g_n") == 1, F.col("tot_rv"))  # region/total
              .otherwise(F.col("reg_rv")))              # nation/region
    return base.select(
        F.when(F.col("g_r") == 1, "TOTAL").otherwise(F.col("r_name"))
        .alias("region"),
        F.when(F.col("g_n") == 1, "*").otherwise(F.col("n_name"))
        .alias("nation"),
        F.col("rv").cast("double").alias("revenue"),
        # dratio needs an INTEGER denominator: scale BOTH sides of
        # the ratio to exact 10^-4 units — rv/parent ==
        # (rv·10^4)/(parent·10^4) — so the kernel's exactness
        # argument holds. Scaling only the denominator shrank every
        # share by 10^-4 identically on BOTH engines (hash-green,
        # wrong!) — caught by the share-sums invariant test, the
        # reason semantic tests exist beside oracle parity.
        # decimal(38,0), not bigint: dratio only needs an
        # integer-VALUED denominator, and parent·10^4 crosses 2^63 at
        # 1e12-scale prices (extreme-measures axis, round 9) — the
        # oracle's HUGEINT twin always had the headroom
        dratio(F.col("rv") * 10000,
               (parent * 10000).cast("decimal(38,0)"), "share_of_parent"),
    )


_WJ_THRESH_NUM, _WJ_THRESH_DEN = 3, 5  # J_w >= 3/5
_WJ_K = 3  # shingle width for the multiset elements


@register(
    "q172_dedup_weighted_jaccard",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t
        FROM documents WHERE text IS NOT NULL
    ),
    sh AS (SELECT doc_id, array_to_string(t[i+1:i+{_WJ_K}], ' ') AS s
           FROM toks CROSS JOIN generate_series(0, 4096) g(i)
           WHERE i <= len(t) - {_WJ_K}),
    tc AS (
        SELECT doc_id, s, COUNT(*) AS c
        FROM sh GROUP BY 1, 2
    ),
    sz AS (SELECT doc_id, SUM(c) AS tot FROM tc GROUP BY 1),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               SUM(LEAST(a.c, b.c)) AS i_min
        FROM tc a JOIN tc b
          ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           CAST(i_min AS BIGINT) AS i_min,
           CAST(sa.tot AS BIGINT) AS tot_a,
           CAST(sb.tot AS BIGINT) AS tot_b
    FROM inter
    JOIN sz sa ON sa.doc_id = id_a
    JOIN sz sb ON sb.doc_id = id_b
    WHERE {_WJ_THRESH_DEN} * i_min
          >= {_WJ_THRESH_NUM} * (sa.tot + sb.tot - i_min)
    """,
)
def q172_dedup_weighted_jaccard(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """WEIGHTED (multiset) Jaccard near-dup join over word-{k}-gram
    MULTISETS: doc pairs with
    J_w = Σ_s min(c_a(s), c_b(s)) / Σ_s max(c_a(s), c_b(s)) >= 3/5.
    The dedup-family member that sees repetition — two docs built
    from the same phrases repeated in different proportions look
    identical to distinct-set Jaccard (q83) but diverge under
    multiset weights, and spam/boilerplate is exactly the
    repetition-heavy case.

    Blocking element choice is the scale lesson this query carries:
    the first version blocked on single TOKENS and collapsed — on a
    small-vocabulary corpus every pair shares tokens, so "pairs
    sharing an element" degenerated to ALL pairs (measured 120+ s at
    sf0.1, the unblocked-O(n²) shape this repo bans). Word-{k}-grams
    restore a large element space (q83's), making the shared-element
    candidate set near-linear again: same query, ~40× faster, and
    the property generalizes — block on the highest-cardinality
    element the semantics allow.

    All-integer exactness: with per-doc totals T = Σc, multiset
    union = T_a + T_b − I_min, so J_w ≥ p/q becomes
    q·I_min ≥ p·(T_a + T_b − I_min) — exact BIGINT products, no
    ratio materialized anywhere."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull())
    toks = (d.select("doc_id", F.split("text", " ").alias("t"))
            .filter(F.size("t") >= _WJ_K))
    sh = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - (_WJ_K - 1)),
                lambda i: F.array_join(F.slice("t", i, _WJ_K), " ")))
        .alias("s"))
    tc = (sh.groupBy("doc_id", "s")
          .agg(F.count(F.lit(1)).alias("c")))
    # A/B'd and REJECTED in optimization round 11: materializing tc
    # hash-partitioned by s (repartition under the agg + a
    # layout-preserving checkpoint) to make the self-join
    # exchange-free measured 2.0 -> 3.3 s steady at sf0.1 -- the
    # checkpointed tc sits under the broadcast threshold at bench
    # scale, so the self-join was ALREADY exchange-free
    # (BroadcastHashJoin) and the explicit s-repartition of raw
    # shingle rows was pure added cost. Past broadcast size the
    # planner falls back to a keyed join and the s-layout trick
    # becomes the right move -- revisit with measurements there.
    tc = tc.localCheckpoint()  # sizes + both join sides read it
    sz = tc.groupBy("doc_id").agg(F.sum("c").alias("tot"))
    a, b = tc.alias("a"), tc.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"),
                 F.col("b.doc_id").alias("id_b"))
        .agg(F.sum(F.least("a.c", "b.c")).alias("i_min")))
    sa = sz.select(F.col("doc_id").alias("id_a"), F.col("tot").alias("tot_a"))
    sb = sz.select(F.col("doc_id").alias("id_b"), F.col("tot").alias("tot_b"))
    return (
        # sa/sb are O(documents) — SF-linear, so no broadcast hint;
        # these are key-equi joins AQE can promote when the runtime
        # size fits (VERDICT r4 #1).
        inter.join(sa, "id_a").join(sb, "id_b")
        .filter(_WJ_THRESH_DEN * F.col("i_min")
                >= _WJ_THRESH_NUM
                * (F.col("tot_a") + F.col("tot_b") - F.col("i_min")))
        .select("id_a", "id_b",
                F.col("i_min").cast("bigint").alias("i_min"),
                F.col("tot_a").cast("bigint").alias("tot_a"),
                F.col("tot_b").cast("bigint").alias("tot_b"))
    )


@register(
    "q173_token_drift_tv",
    oracle="""
    WITH toks AS (
        SELECT doc_id % 2 AS half,
               unnest(string_split(text, ' ')) AS tok
        FROM documents WHERE text IS NOT NULL
    ),
    c AS (
        SELECT tok,
               SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS c0,
               SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS c1
        FROM toks GROUP BY 1
    ),
    n AS (SELECT SUM(c0) AS n0, SUM(c1) AS n1 FROM c),
    num AS (
        SELECT CAST(SUM(ABS(c0 * n.n1 - c1 * n.n0)) AS HUGEINT) AS s
        FROM c, n
    )
    SELECT CAST(n.n0 AS BIGINT) AS n_tokens_a,
           CAST(n.n1 AS BIGINT) AS n_tokens_b,
           CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS vocab,
           CAST((num.s - (num.s % CAST(2 * n.n0 * n.n1 AS HUGEINT)))
                / (2 * n.n0 * n.n1) AS BIGINT) AS tv_millionths_floor,
           CAST(num.s % CAST(2 * n.n0 * n.n1 AS HUGEINT) AS DOUBLE)
               / CAST(2 * n.n0 * n.n1 AS DOUBLE) AS tv_frac_part
    FROM n, num
    """,
)
def q173_token_drift_tv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution DRIFT between two corpus halves (doc_id
    parity stands in for before/after a cutoff): total-variation
    distance TV = ½·Σ_t |p_A(t) − p_B(t)| — the distribution-shift
    monitor a training pipeline runs when a new crawl lands (TV ≈ 0:
    same distribution; TV → 1: disjoint vocabularies).

    Exactness discipline: with common denominator n_A·n_B,
    TV = Σ|c_A·n_B − c_B·n_A| / (2·n_A·n_B) — the numerator is an
    exact integer sum (order-independent), and the value is emitted
    as exact INTEGER part + fractional remainder computed by ONE
    IEEE division of exact integers (both engines divide the same
    pair bit-for-bit), so no float sum ever forms. Shape: one token
    hash agg (conditional sums — one pass for both halves), two
    scalar frames; vocabulary-sized everything after the first agg."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull())
    toks = d.select(
        (F.col("doc_id") % 2).alias("half"),
        F.explode(F.split("text", " ")).alias("tok"))
    c = (toks.groupBy("tok")
         .agg(F.sum(F.when(F.col("half") == 0, 1).otherwise(0))
              .alias("c0"),
              F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
              .alias("c1")))
    c = c.localCheckpoint()  # totals + numerator both read it
    n = c.agg(F.sum("c0").alias("n0"), F.sum("c1").alias("n1"),
              F.count(F.lit(1)).alias("vocab"))
    # n's columns ride the final 1-row × 1-row cross join rather than
    # first() through the numerator agg: on an EMPTY vocabulary the
    # crossJoin is empty and first() returned NULL vocab where the
    # oracle's COUNT(*) scalar is 0 (degenerate-corpus audit); the
    # keyless numerator agg still yields exactly one row (s NULL)
    num = (c.crossJoin(F.broadcast(n.select("n0", "n1")))
           .agg(F.sum(F.abs(F.col("c0") * F.col("n1")
                            - F.col("c1") * F.col("n0"))).alias("s")))
    row = n.crossJoin(F.broadcast(num))
    den = 2 * F.col("n0") * F.col("n1")
    # den = 0 (a corpus half is empty, or the corpus is) would throw
    # under ANSI (pmod-by-zero); the oracle's x % 0 is NULL on that
    # lane, so the CASE guard — per-row lazy, a no-op on any corpus
    # with both halves populated — aligns the engines
    # (degenerate-corpus audit --rows 1)
    def _if_den(expr):
        return F.when(den != 0, expr)

    return row.select(
        F.col("n0").cast("bigint").alias("n_tokens_a"),
        F.col("n1").cast("bigint").alias("n_tokens_b"),
        F.col("vocab").cast("bigint").alias("vocab"),
        _if_den((F.col("s") - F.pmod(F.col("s"), den)) / den)
        .cast("bigint").alias("tv_millionths_floor"),
        _if_den(F.pmod(F.col("s"), den).cast("double")
                / den.cast("double"))
        .alias("tv_frac_part"),
    )


_SPLIT_TEST_PCT = 20  # exact test share per stratum, percent


@register(
    "q174_split_stratified_exact",
    oracle=f"""
    WITH r AS (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY CAST(CONCAT('0x', SUBSTRING(
                       md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT),
                            doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY lang) AS n
        FROM documents
    ),
    labeled AS (
        SELECT lang, doc_id,
               CASE WHEN rn * 100 <= n * {_SPLIT_TEST_PCT}
                    THEN 'test' ELSE 'train' END AS split
        FROM r
    )
    SELECT lang, split, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc
    FROM labeled GROUP BY 1, 2
    """,
)
def q174_split_stratified_exact(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """STRATIFIED exact-proportion train/test split: within every
    language stratum, exactly floor(n·{p}%) documents go to test —
    chosen by md5-hash order (deterministic, unbiased w.r.t. any
    data attribute), not by doc_id order (ingestion-correlated) and
    not by per-row Bernoulli (q119's hash-mod split — correct in
    expectation but ±√n off per stratum, which breaks small-stratum
    eval sets). The floor(rn·100 <= n·pct) form is pure integer
    arithmetic.

    Shape: one stratum-keyed window (rank by hash) + a grouped
    summary; the split column itself is row-level output in
    production — aggregated here so the contract row count stays
    bounded while min/max doc ids still pin membership."""
    d = load_table(spark, sf_dir, "documents")
    hash_ord = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")
                          .cast("binary")), 1, 8), 16, 10).cast("bigint")
    w = Window.partitionBy("lang").orderBy(hash_ord, "doc_id")
    r = d.select(
        "lang", "doc_id",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("lang")).alias("n"))
    labeled = r.select(
        "lang", "doc_id",
        F.when(F.col("rn") * 100 <= F.col("n") * _SPLIT_TEST_PCT,
               "test").otherwise("train").alias("split"))
    return (labeled.groupBy("lang", "split")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.min("doc_id").cast("bigint").alias("min_doc"),
                 F.max("doc_id").cast("bigint").alias("max_doc")))


@register(
    "q175_srm_check",
    oracle=f"""
    WITH a AS (
        SELECT user_id,
               CAST(CONCAT('0x', SUBSTRING(
                   md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT)
                   % 2 AS arm
        -- declared: a NULL user cannot be assigned an arm (the
        -- engine's md5(NULL) silently lands in neither count while
        -- DuckDB's CONCAT ignores NULL and crashes casting '0x' —
        -- null-keys degenerate axis)
        FROM (SELECT DISTINCT user_id FROM events
              WHERE user_id IS NOT NULL)
    ),
    c AS (SELECT SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n0,
                 SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n1
          FROM a)
    SELECT CAST(n0 AS BIGINT) AS n_arm0,
           CAST(n1 AS BIGINT) AS n_arm1,
           {fratio_sql('(n0 - n1) * (n0 - n1)', 'n0 + n1', 'chi2')},
           (n0 - n1) * (n0 - n1) >= 4 * (n0 + n1) AS srm_flag
    FROM c
    """,
)
def q175_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch (SRM) guardrail: users hash into two
    50/50 experiment arms (the q164 md5 discipline — both engines
    agree on every assignment); the chi-square statistic against the
    designed split is χ² = (n0 − n1)²/(n0 + n1) for 1 df, and the
    flag fires at χ² ≥ 4 (p < 0.05 territory) — the FIRST check any
    A/B readout must pass, because a biased assignment invalidates
    every downstream metric (q148's z-test assumes this one passed).

    Exactness: counts are exact; χ² is one half-away-rounded ratio
    of exact integers (dratio); the flag comparison is cleared of
    the division entirely ((n0−n1)² ≥ 4·(n0+n1) — integer products).
    Shape: distinct users, one map-side hash, two scalar aggs."""
    ev = load_table(spark, sf_dir, "events")
    arm = (ev.select("user_id")
           # declared: a NULL user has no arm (oracle mirrors)
           .where(F.col("user_id").isNotNull()).distinct()
           .select(F.pmod(
               F.conv(F.substring(
                   F.md5(F.col("user_id").cast("string").cast("binary")),
                   1, 8), 16, 10).cast("bigint"), F.lit(2)).alias("arm")))
    c = arm.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("n0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("n1"))
    diff2 = (F.col("n0") - F.col("n1")) * (F.col("n0") - F.col("n1"))
    return c.select(
        F.col("n0").cast("bigint").alias("n_arm0"),
        F.col("n1").cast("bigint").alias("n_arm1"),
        dratio(diff2, F.col("n0") + F.col("n1"), "chi2"),
        (diff2 >= 4 * (F.col("n0") + F.col("n1"))).alias("srm_flag"),
    )


@register(
    "q176_ks_two_sample",
    oracle="""
    WITH s AS (
        SELECT o_totalprice AS v,
               CASE WHEN o_orderpriority = '1-URGENT'
                    THEN 0 ELSE 1 END AS g,
               o_orderkey
        -- declared: an ECDF is over the non-null sample points — a
        -- NULL order value is not an observation (null-measures
        -- axis: the NULL group's CDF step lands first on one
        -- engine's sort and last on the other's, shifting D)
        FROM orders WHERE o_totalprice IS NOT NULL
    ),
    -- COALESCE: no-op on any non-empty orders table; on an EMPTY one
    -- it matches the engine's prefix-sum kernel, whose grand totals
    -- are integer 0, not NULL (degenerate-corpus audit)
    n AS (SELECT COALESCE(SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END), 0) AS n0,
                 COALESCE(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END), 0) AS n1
          FROM s),
    cum AS (
        SELECT v, g,
               SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END)
                   OVER (ORDER BY v, g, o_orderkey
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS c0,
               SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END)
                   OVER (ORDER BY v, g, o_orderkey
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS c1,
               LEAD(v) OVER (ORDER BY v, g, o_orderkey) AS nxt
        FROM s
    ),
    d AS (
        SELECT MAX(ABS(c0 * n.n1 - c1 * n.n0)) AS dnum
        FROM cum, n
        WHERE nxt IS NULL OR nxt <> v  -- evaluate CDFs between ties only
    )
    SELECT CAST(n.n0 AS BIGINT) AS n_urgent,
           CAST(n.n1 AS BIGINT) AS n_other,
           CAST(d.dnum AS BIGINT) AS d_numerator,
           CAST(d.dnum AS DOUBLE) / (CAST(n.n0 AS DOUBLE) * n.n1)
               AS ks_d
    FROM n, d
    """,
)
def q176_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov distance between the order-value
    distributions of URGENT vs other orders: D = sup_x |F₀(x) −
    F₁(x)| — the CONTINUOUS-distribution companion to q173's
    categorical total variation, and the standard 'did this segment's
    value distribution shift' test (no binning choices, unlike a
    histogram comparison).

    Exact formulation: with common denominator n₀·n₁,
    D = max over distinct values of |c₀(x)·n₁ − c₁(x)·n₀| / (n₀·n₁).
    The engine aggregates to DISTINCT-VALUE grain first (per-value
    group counts — ties absorbed by construction; evaluating a CDF
    mid-tie reads a half-updated count, which is why the oracle's
    window form filters to tie-run ends), then builds both cumulative
    counts with the two-pass range-partitioned distributed prefix sum
    — the MULTI-MEASURE kernel
    (operators/rankops.with_global_prefix_sums): both CDFs come out
    of ONE bucketing pass and one shared per-bucket sort, instead of
    two sequential single-measure passes re-bucketing the same
    v-ordered frame. NO single-task global window over the data
    anywhere; the max numerator is an exact integer and ks_d is ONE
    IEEE division of exact integers."""
    vals = _ks_grouped_vals(spark, sf_dir)
    return _ks_exact_from_vals(vals)


def _ks_grouped_vals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q176's distinct-value-grain frame (v, a0, a1): per distinct
    order value, the sample counts of each group — the shared input
    of the exact KS kernel AND q177's sketch bucket counts.

    CACHED (optimization round 12, guide §1.2): the prefix-sum
    kernel alone evaluates its input three times (approxQuantile
    boundary pass, per-bucket count collect, final output) and each
    evaluation re-ran the full orders scan + the groupBy(v) hash agg;
    the cache confines all of that to one scan + one agg. vals is
    distinct-value-sized (primitive columns), so residency is the
    same order as the shuffle the kernel already pays; the bench /
    oracle harnesses drop caches at every query boundary
    (bench._drop_blocks / oracle.check_op)."""
    o = load_table(spark, sf_dir, "orders")
    s = o.where(
        # declared NULL policy: a NULL value is not a sample point
        # of either distribution (oracle mirrors)
        F.col("o_totalprice").isNotNull()
    ).select(
        F.col("o_totalprice").alias("v"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 0).otherwise(1)
        .alias("g"))
    return (s.groupBy("v")
            .agg(F.sum(F.when(F.col("g") == 0, 1).otherwise(0))
                 .alias("a0"),
                 F.sum(F.when(F.col("g") == 1, 1).otherwise(0))
                 .alias("a1"))
            .cache())


def _ks_exact_from_vals(vals: DataFrame) -> DataFrame:
    """The exact-KS back half of q176 over a (v, a0, a1) frame —
    split out so q177 can feed its sketch lane and this kernel from
    ONE shared cached frame instead of re-deriving it per lane."""
    from hearthstats_spark.operators.rankops import \
        with_global_prefix_sums

    c01, (n0, n1) = with_global_prefix_sums(
        vals, "v", ["a0", "a1"], cum_cols=["c0", "c1"])
    d = c01.agg(
        F.max(F.abs(F.col("c0") * F.lit(n1)
                    - F.col("c1") * F.lit(n0))).alias("dnum"))
    # n0/n1 are build-time scalars, so the zero-denominator lane (one
    # group empty — possible only on a degenerate corpus) is a
    # build-time branch: the oracle's x / 0.0 is NULL there, and the
    # real-corpus plan is untouched (degenerate audit --rows 1)
    ks_d = (F.lit(None).cast("double") if n0 * n1 == 0
            else (F.col("dnum").cast("double")
                  / (F.lit(float(n0)) * F.lit(float(n1)))))
    return d.select(
        F.lit(n0).cast("bigint").alias("n_urgent"),
        F.lit(n1).cast("bigint").alias("n_other"),
        F.col("dnum").cast("bigint").alias("d_numerator"),
        ks_d.alias("ks_d"),
    )
