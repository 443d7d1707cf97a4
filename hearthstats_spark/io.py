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

Each path read is resolved once per session. The first
``load_table`` of a source in a SparkSession runs Spark's schema
inference (one small Spark job); the inferred schema is remembered
per (session, source path, source fingerprint) in a weak mapping,
and every later call reads with that declared schema, which runs no
job. Only the schema is remembered, never the DataFrame: each call
builds a new relation with new attribute ids, so self-joins and
``df["col"]`` references behave as with a plain read. A rewritten
source has a new fingerprint (``operators/ann_index.source_fingerprint``)
and is inferred afresh. ``ann_index.persisted`` reads its committed
artifacts back through the same memo (``read_artifact``).

A large flat source is also read in a layout that uses every core.
Spark splits a file scan into ``min(maxPartitionBytes,
max(openCostInBytes, bytes / cores))``-byte pieces but never splits
a parquet row group, so a one-row-group file scans as one task; a
file of a few row groups still leaves cores idle, because each row
group goes to the piece that holds its midpoint (a copy with
``2 × cores`` row groups in one file gave four tasks 0, 150,000,
225,000 and 225,000 rows). When the source is one parquet file
larger than ``openCostInBytes`` with fewer row groups than
``defaultParallelism``, ``load_table`` reads a copy instead: the same
rows, values and schema, rewritten with pyarrow (no Spark job) as
``defaultParallelism`` files of one equal row group each. Each file
is below the split size (its bytes plus ``openCostInBytes``), and a
second file never fits into a task with it, so every task reads one
file. The copy lives in the artifact store (``operators/ann_index``:
under ``SPARK_GRAFT_ANN_CACHE_DIR`` or the per-user default root),
keyed by the source fingerprint and the file count, committed
through the store's rename protocol, and is a directory named
``<table>.parquet`` so plans still name the table. Smaller files,
directories and sessions with the artifact store disabled
(``SPARK_GRAFT_ANN_CACHE=0``) read the source in place.

``local_frame`` turns rows the driver holds (an op's summary row, a
small offset or task table) into a DataFrame. ``spark.createDataFrame``
of a Python list plans a ``LogicalRDD`` whose data PySpark re-pickles
through a Python-worker job on every action. ``local_frame`` builds a
pyarrow table with the Arrow form of the Spark schema instead, which
Spark plans as a ``LocalRelation``: ``collect()`` runs no Spark job,
and a join or broadcast reads it without a Python worker. It is the
engine's only ``createDataFrame`` call (a Tier-1 test holds that).

At 100 TB these would be directory-partitioned datasets (orders and
lineitem partitioned by month of their date column, events by day)
so that Catalyst's partition pruning and dynamic partition pruning
kick in; the loaders keep that concern in one place.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, StructType, TimestampType

from hearthstats_spark.operators import ann_index
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
    if name == "events":
        ensure_conf(spark)  # nanosAsLong, for direct callers' sessions
        return _normalize_events_ts(
            _drop_partition_cols(_read_parquet(spark, sf_dir, name)))
    return _drop_partition_cols(_read_parquet(spark, sf_dir, name))


#: per session: (read key) -> (inferred schema, files of the split
#: copy or 0 to read in place). A table's key is (source path,
#: source fingerprint); an artifact's is (artifact path, "").
_RESOLVED: weakref.WeakKeyDictionary[
    SparkSession, dict[tuple[str, str], tuple[StructType, int]]
] = weakref.WeakKeyDictionary()


def _read_parquet(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read ``<sf_dir>/<name>.parquet`` resolved once per session
    (see the module docstring): the split decision and Spark's schema
    inference run on the first call, later calls read with the
    remembered schema and run no Spark job."""
    src = os.path.join(sf_dir, f"{name}.parquet")
    key = (src, ann_index.source_fingerprint(src))
    hit = _RESOLVED.get(spark, {}).get(key)
    files = hit[1] if hit else _split_files(spark, src)
    path = src
    if files and ann_index.cache_enabled():
        path = _split_copy(sf_dir, name, files)
    return _read_resolved(spark, key, path, files)


def read_artifact(spark: SparkSession, path: str) -> DataFrame:
    """Read a committed artifact directory (``ann_index.persisted``)
    resolved once per session. Its path already encodes the source
    fingerprint, and a committed artifact is never rewritten, so the
    path alone keys the remembered schema."""
    return _read_resolved(spark, (path, ""), path, 0)


def _read_resolved(spark: SparkSession, key: tuple[str, str], path: str,
                   files: int) -> DataFrame:
    """``path`` read with the schema remembered under ``key`` in this
    session; the first read infers it (one Spark job) and records it
    with ``files``."""
    resolved = _RESOLVED.setdefault(spark, {})
    hit = resolved.get(key)
    if hit is not None:
        return spark.read.schema(hit[0]).parquet(path)
    df = spark.read.parquet(path)
    resolved[key] = (df.schema, files)
    return df


def _split_files(spark: SparkSession, src: str) -> int:
    """Files for a split copy of ``src``, or 0 to read it in place.
    A file no larger than ``openCostInBytes`` is never split by Spark
    (maxSplitBytes is at least openCostInBytes), and one with
    ``defaultParallelism`` row groups already fills the cores."""
    if not os.path.isfile(src):
        return 0
    open_cost = spark._jsparkSession.sessionState().conf() \
        .filesOpenCostInBytes()
    if os.path.getsize(src) <= open_cost:
        return 0
    import pyarrow.parquet as pq

    cores = spark.sparkContext.defaultParallelism
    if pq.read_metadata(src).num_row_groups >= cores:
        return 0
    return cores


def _split_copy(sf_dir: str, name: str, files: int) -> str:
    """Path of ``name``'s copy: a ``<name>.parquet`` directory of
    ``files`` equal files of one row group each, written with pyarrow
    and committed once per source fingerprint."""
    import pyarrow.parquet as pq

    src = os.path.join(sf_dir, f"{name}.parquet")
    art = ann_index.artifact_path(sf_dir, f"split_{name}_files{files}",
                                  table=name)

    def write(tmp: str) -> None:
        out = os.path.join(tmp, f"{name}.parquet")
        os.makedirs(out)
        with pq.ParquetFile(src) as pf:
            rows = -(-pf.metadata.num_rows // files)  # ceil
            # every batch but the last holds ``rows`` rows, read
            # across the source's row-group boundaries
            for i, batch in enumerate(pf.iter_batches(batch_size=rows)):
                with pq.ParquetWriter(
                        os.path.join(out, f"part-{i:05d}.parquet"),
                        pf.schema_arrow) as part:
                    part.write_batch(batch, row_group_size=rows)
        open(os.path.join(tmp, "_SUCCESS"), "w").close()

    ann_index.commit_artifact(art, write)
    return os.path.join(art, f"{name}.parquet")


def local_frame(spark: SparkSession, rows, schema: StructType | str
                ) -> DataFrame:
    """``rows`` (tuples or Rows, positional) as a DataFrame with
    ``schema`` (a StructType or a DDL string), built as an Arrow
    table: Spark plans it as a ``LocalRelation``, so ``collect()``
    runs no Spark job and a join reads it without a Python worker.
    Values, schema and a naive datetime's meaning (Python-local time)
    are those of ``spark.createDataFrame(rows, schema)``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    columns = []
    for i, field in enumerate(schema.fields):
        values = [row[i] for row in rows]
        if isinstance(field.dataType, TimestampType):
            # epoch microseconds by the list path's own rule (naive is
            # local time, DST gaps and folds included): Arrow would
            # read a naive datetime as UTC
            values = [field.dataType.toInternal(v) for v in values]
        columns.append(pa.array(values, type=arrow.field(i).type))
    return spark.createDataFrame(
        pa.Table.from_arrays(columns, schema=arrow), schema)


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
