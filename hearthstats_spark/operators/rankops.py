"""Scale-safe global ordered computation: exact position / prefix
sum in a total order WITHOUT a global single-task sort.

A ``Window.orderBy(...)`` with no partition spec plans as one task
sorting the entire input — the classic 100 TB killer (and forbidden
registry-wide by tests/test_plan_audit.py). These operators are the
two-pass range-partitioned replacement used by q29 (distribution
functions), q75 (systematic sampling) and q89 (token-budget shard
packing):

1. ``approxQuantile`` picks ``n_buckets - 1`` range boundaries on the
   leading order column (the driver receives a handful of scalars —
   metadata, the same thing a range partitioner ships).
2. One tiny aggregate computes EXACT per-bucket counts (≤ n_buckets
   rows to the driver) → each bucket's global-rank offset, broadcast
   back.
3. A per-bucket window (partitionBy bucket) assigns local
   row_number; global position = bucket offset + local rank.

Rows with equal leading values always land in the same bucket
(boundaries cut strictly between values), so bucket ranges respect
the total order and the result is exact, not approximate —
quantile-based boundaries only affect balance, never correctness.

NULL order values: the kernels implement **ASC NULLS FIRST** — a
NULL leading value fails every ``> boundary`` comparison (bucket 0,
before all value buckets) and Spark's window sort places NULLS
FIRST within it, so NULL rows occupy positions 1..k of the total
order. This is a DECLARED semantic: consuming oracles must state
``NULLS FIRST`` explicitly (DuckDB's bare ``ASC`` defaults to NULLS
LAST — the null-measures degenerate axis caught q29/q116 diverging
on exactly this). Statistical consumers that want NULLs excluded
(quantiles, ECDFs, weights) filter BEFORE calling the kernel.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window, functions as F


def with_global_position(
    df: DataFrame,
    order_col: str,
    tiebreak: Sequence[str] = (),
    n_buckets: int = 32,
    pos_col: str = "__pos",
    boundaries: str = "quantile",
) -> tuple[DataFrame, int]:
    """Append ``pos_col`` = exact 1-based position of each row in the
    total order (``order_col``, then ``tiebreak``) — which must be unique
    per row — and return ``(df_with_pos, total_row_count)``.

    ``order_col`` must be numeric. ``boundaries`` picks the range
    split: ``"quantile"`` (approxQuantile sketch — balanced under any
    value skew, the default) or ``"uniform"`` (min/max + equal-width
    cuts — a cheaper single min/max aggregate, ideal when the order
    key is dense/uniform like a sequential id; under heavy value skew
    it only costs balance, never correctness). Plan: one boundary
    pass, one tiny count aggregate, then a single per-bucket sort —
    every window partitions by a real key."""
    from hearthstats_spark.io import local_frame  # io imports operators

    b = _range_bucketed(df, order_col, n_buckets, boundaries)
    counts = {r["__b"]: r["cnt"] for r in
              b.groupBy("__b").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    n = sum(counts.values())
    offsets, acc = [], 0
    for bk in sorted(counts):
        offsets.append((bk, acc))
        acc += counts[bk]
    off = local_frame(df.sparkSession, offsets, "__b int, __off long")
    w = Window.partitionBy("__b").orderBy(order_col, *tiebreak)
    out = (
        b.join(F.broadcast(off), "__b")
        .withColumn(pos_col, F.col("__off") + F.row_number().over(w))
        .drop("__b", "__off")
    )
    return out, n


def with_global_prefix_sum(
    df: DataFrame,
    order_col: str,
    measure: str,
    tiebreak: Sequence[str] = (),
    n_buckets: int = 32,
    cum_col: str = "__cum",
    boundaries: str = "quantile",
) -> tuple[DataFrame, int]:
    """Append ``cum_col`` = EXACT inclusive prefix sum of ``measure``
    over the total order (``order_col``, then ``tiebreak`` — unique
    per row) and return ``(df_with_cum, grand_total)``.

    Same two-pass range-partitioned shape as
    :func:`with_global_position`, with the tiny per-bucket aggregate
    computing ``SUM(measure)`` instead of ``COUNT(*)``: driver
    traffic is ≤ ``n_buckets`` scalars each way, and the only window
    partitions by the range bucket — no global single-task sort.
    This is the distributed prefix-sum a 100 TB pipeline uses for
    token-budget shard packing (q89), byte-offset assignment, or
    quota-fill sampling."""
    out, totals = with_global_prefix_sums(
        df, order_col, [measure], tiebreak=tiebreak, n_buckets=n_buckets,
        cum_cols=[cum_col], boundaries=boundaries)
    return out, totals[0]


def with_global_prefix_sums(
    df: DataFrame,
    order_col: str,
    measures: Sequence[str],
    tiebreak: Sequence[str] = (),
    n_buckets: int = 32,
    cum_cols: Sequence[str] | None = None,
    boundaries: str = "quantile",
) -> tuple[DataFrame, list[int]]:
    """Multi-measure :func:`with_global_prefix_sum`: ONE bucketing
    pass + ONE tiny per-bucket aggregate producing an exact inclusive
    prefix sum column for EVERY measure at once; returns
    ``(df_with_cums, [grand_total per measure])``.

    N sequential single-measure calls re-bucket and re-sort the same
    frame N times; two-sided CDFs (q176's KS statistic needs cum
    counts of BOTH groups over one value order) and quota ladders
    want all the running sums from one pass. Cost is identical to the
    single-measure kernel: driver traffic ≤ ``n_buckets`` rows of
    ``len(measures)`` integer scalars, one per-bucket window sort
    shared by every cumulative column. Measures must be integral
    (LONG offsets, as in the single-measure kernel)."""
    if cum_cols is None:
        cum_cols = [f"__cum_{m}" for m in measures]
    if len(cum_cols) != len(measures):
        raise ValueError("cum_cols must match measures 1:1")
    from hearthstats_spark.io import local_frame  # io imports operators

    b = _range_bucketed(df, order_col, n_buckets, boundaries)
    rows = b.groupBy("__b").agg(
        *[F.sum(m).alias(f"__s{i}") for i, m in enumerate(measures)]
    ).collect()
    sums = {r["__b"]: [r[f"__s{i}"] or 0 for i in range(len(measures))]
            for r in rows}
    totals = [sum(v[i] for v in sums.values())
              for i in range(len(measures))]
    offsets, acc = [], [0] * len(measures)
    for bk in sorted(sums):
        offsets.append((bk, *acc))
        acc = [a + s for a, s in zip(acc, sums[bk])]
    off_cols = [f"__off{i}" for i in range(len(measures))]
    off = local_frame(
        df.sparkSession, offsets,
        "__b int, " + ", ".join(f"{c} long" for c in off_cols))
    w = (Window.partitionBy("__b").orderBy(order_col, *tiebreak)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    out = b.join(F.broadcast(off), "__b").select(
        "*",
        *[(F.col(oc) + F.sum(m).over(w)).alias(cc)
          for oc, m, cc in zip(off_cols, measures, cum_cols)],
    ).drop("__b", *off_cols)
    return out, totals


def with_global_running_max(
    df: DataFrame,
    order_col: str,
    measure: str,
    n_buckets: int = 32,
    out_col: str = "__runmax",
    strict: bool = True,
) -> DataFrame:
    """Append ``out_col`` = EXACT running max of ``measure`` over the
    total order of ``order_col`` — by default over STRICTLY smaller
    order values (``strict=True``: rows sharing an order value see
    only earlier values' max, NULL when nothing precedes), which is
    the dominance test a skyline/Pareto scan needs.

    ``order_col`` must have unique values per row (pre-aggregate to
    one row per distinct order value first — q99 does). Same two-pass
    range-partitioned shape as :func:`with_global_position`: per-bucket
    window max + a ≤ ``n_buckets``-row bucket-max frame whose prefix
    max broadcasts back. No global single-task sort."""
    from hearthstats_spark.io import local_frame  # io imports operators

    b = _range_bucketed(df, order_col, n_buckets, "quantile")
    bucket_max = {r["__b"]: r["m"] for r in
                  b.groupBy("__b").agg(F.max(measure).alias("m")).collect()}
    prefixes, acc = [], None
    for bk in sorted(bucket_max):
        prefixes.append((bk, acc))
        acc = bucket_max[bk] if acc is None else max(acc, bucket_max[bk])
    mtype = df.schema[measure].dataType.simpleString()
    off = local_frame(df.sparkSession, prefixes, f"__b int, __pmax {mtype}")
    upper = -1 if strict else Window.currentRow
    w = (Window.partitionBy("__b").orderBy(order_col)
         .rowsBetween(Window.unboundedPreceding, upper))
    return (
        b.join(F.broadcast(off), "__b")
        .withColumn(out_col,
                    # greatest() skips NULLs (null iff both are):
                    # first row of first bucket → NULL, as documented
                    F.greatest(F.max(measure).over(w), F.col("__pmax")))
        .drop("__b", "__pmax")
    )


def _range_bucketed(df: DataFrame, order_col: str, n_buckets: int,
                    boundaries: str) -> DataFrame:
    """Append ``__b`` = range-bucket id over ``order_col``. Rows with
    equal order values always share a bucket (boundaries cut strictly
    between values), so bucket ranges respect the total order —
    boundary placement only affects balance, never correctness."""
    probs = [i / n_buckets for i in range(1, n_buckets)]
    # n_buckets=1 → no boundaries (approxQuantile NPEs on an empty
    # probability list); everything lands in bucket 0
    if not probs:
        bounds = []
    elif boundaries == "uniform":
        lo, hi = df.agg(F.min(order_col), F.max(order_col)).collect()[0]
        if lo is None or hi == lo:
            bounds = []
        else:
            step = (hi - lo) / n_buckets
            bounds = sorted({lo + i * step for i in range(1, n_buckets)})
    else:
        bounds = sorted(set(df.approxQuantile(order_col, probs, 0.001)))
    bucket = sum(
        (F.when(F.col(order_col) > F.lit(b), 1).otherwise(0)
         for b in bounds),
        start=F.lit(0),
    ).alias("__b")
    return df.select("*", bucket)
