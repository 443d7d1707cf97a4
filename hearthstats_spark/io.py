"""Table loaders (SURVEY.md §1.3, §7 step 0).

The driver's testdata lives at ``/root/testdata/sf{0.001,0.01,0.1}/``
as one Parquet file per table. All tables read cleanly except
``events``: the driver has shipped its ``ts`` column in two physical
forms across regenerations — TIMESTAMP(NANOS), which Spark 4.x
rejects ([PARQUET_TYPE_ILLEGAL]) unless
``spark.sql.legacy.parquet.nanosAsLong=true`` hands it over as bigint
nanoseconds, and TIMESTAMP(isAdjustedToUTC=false), which Spark reads
as TIMESTAMP_NTZ. ``load_table`` normalizes both — once, at load — to
a plain microsecond TIMESTAMP under the engine's pinned UTC session
timezone, so every downstream query sees one stable type.

At 100 TB these would be directory-partitioned datasets (orders and
lineitem partitioned by month of their date column, events by day)
so that Catalyst's partition pruning and dynamic partition pruning
kick in; the loaders keep that concern in one place.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hearthstats_spark.session import ensure_conf

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


#: partition-directory helper columns a layout copy may add (see
#: sources/layout.py + scripts/check_layout_parity.py); dropped on
#: read so a partitioned copy is schema-identical to the flat corpus.
#: Explicit names, NOT a "p_*" prefix rule — the part table's real
#: columns all start with p_.
_LAYOUT_PARTITION_COLS = ("p_month", "p_day")


def _layout_manifest(sf_dir: str) -> dict | None:
    """Optional ``_layout.json`` in an sf dir: marks a cluster-layout
    copy of the corpus (written by scripts/check_layout_parity.py).
    Shape: {"bucketed": {"orders": "<catalog table>", ...}} — tables
    named there are read from the session catalog (bucketed reads
    only exist for catalog tables; a path read drops the bucket
    metadata), everything else reads its (possibly partitioned)
    parquet path. Absent on the shipped flat corpora, so the normal
    path is one os.path.exists per load."""
    path = os.path.join(sf_dir, "_layout.json")
    if not os.path.exists(path):
        return None
    import json

    with open(path) as fh:
        return json.load(fh)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table; normalizes events.ts bigint-ns -> timestamp(µs).
    Layout-aware: a ``_layout.json`` manifest routes bucketed tables
    to the catalog, and partition helper columns are dropped so every
    layout serves the exact flat-corpus schema."""
    man = _layout_manifest(sf_dir)
    if man:
        catalog_name = man.get("bucketed", {}).get(name)
        if catalog_name:
            # events normalization AND helper-column dropping must
            # apply on EVERY source route — a manifest that buckets
            # events would otherwise silently skip the bigint-ns →
            # timestamp conversion (code-review find, round 9), and a
            # manifest bucketing a table whose payload carries
            # p_month/p_day would leak helper columns and break the
            # schema-identity contract (ADVICE r9 item 1: hold the
            # invariant by construction, not by writer convention)
            df = _drop_partition_cols(spark.table(catalog_name))
            return _normalize_events_ts(df) if name == "events" else df
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        ensure_conf(spark)  # nanosAsLong, for direct callers' sessions
        return _normalize_events_ts(
            _drop_partition_cols(spark.read.parquet(path)))
    return _drop_partition_cols(spark.read.parquet(path))


def _normalize_events_ts(df: DataFrame) -> DataFrame:
    """events.ts to a plain microsecond TIMESTAMP, whatever physical
    form the source carried (see module docstring)."""
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        # integer div (not /1000-then-cast): keeps µs exact
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type == "timestamp_ntz":
        # driver regenerations have also shipped ts as
        # TIMESTAMP(isAdjustedToUTC=false) → Spark reads TIMESTAMP_NTZ.
        # Session tz is pinned UTC (session.py), so this cast is a
        # wall-clock-preserving relabel to the TIMESTAMP type the
        # event-time queries/watermarks expect — same instants the
        # bigint-ns path produced.
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _drop_partition_cols(df: DataFrame) -> DataFrame:
    """Drop layout partition helper columns (no-op on flat corpora).

    Dropping them forgoes DIRECTORY pruning for queries that filter
    only the raw time column — plain parquet cannot map a raw-ts
    predicate to directory keys (no generated-column pruning outside
    table formats; check_layout_parity.py documents that only an
    explicit p_day predicate prunes). What remains is parquet
    row-group skipping on the underlying column, and a deployment
    that wants directory pruning adds the partition predicate
    explicitly — the standard practice (ADVICE r9 item 2)."""
    extra = [c for c in _LAYOUT_PARTITION_COLS if c in df.columns]
    return df.drop(*extra) if extra else df


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR,
                names: tuple[str, ...] = TABLES,
                register: bool = False) -> dict[str, DataFrame]:
    """Load the requested tables into a dict; optionally register each
    as a temp view (used by the SQL-route queries, e.g. GROUPING SETS,
    so Spark-side SQL can mirror the DuckDB oracle text)."""
    out: dict[str, DataFrame] = {}
    for name in names:
        df = load_table(spark, sf_dir, name)
        if register:
            df.createOrReplaceTempView(name)
        out[name] = df
    return out
