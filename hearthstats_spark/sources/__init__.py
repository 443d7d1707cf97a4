"""Source/sink surface.

Batch sources live in :mod:`hearthstats_spark.io` (Parquet loaders
with the events-ns normalization); CSV/JSON/JDBC round-trips are
exercised by s01/s02 (queries/sinks.py); the streaming file source
is built in streaming/pipeline.py.

``load_table`` resolves each table once per session: Spark's
inferred schema is remembered per (session, source path, source
fingerprint), and later reads declare it, so they run no Spark job.
A single parquet file larger than ``spark.sql.files.openCostInBytes``
with fewer row groups than ``defaultParallelism`` is read through a
copy with ``2 × defaultParallelism`` row groups (same rows and
schema), written once per source fingerprint with pyarrow into the
artifact store root of ``operators/ann_index`` (the
``SPARK_GRAFT_ANN_CACHE_DIR`` directory when set).

At 100 TB the loaders here are where layout policy lives (SURVEY.md
§1.3): date-partitioned directories for orders/lineitem/events so
partition pruning + dynamic partition pruning fire, bucketed-by-key
copies for shuffle-free joins. The single-file-per-table test layout
keeps the same entry points.
"""

from hearthstats_spark.io import DEFAULT_SF_DIR, TABLES, load_table, load_tables

__all__ = ["DEFAULT_SF_DIR", "TABLES", "load_table", "load_tables"]
