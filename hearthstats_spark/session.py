"""SparkSession bootstrap (SURVEY.md §4.2 / §7 step 0).

Enforced settings (answers depend on them; ``ensure_conf`` re-applies
them on every registered call, so a driver-built session still
matches DuckDB):

- ``spark.sql.session.timeZone=UTC`` — timestamp values must hash
  identically against the DuckDB oracle.
- ``spark.sql.legacy.parquet.nanosAsLong=true`` — the driver's
  ``events.parquet`` stores ``ts`` as TIMESTAMP(NANOS); Spark 4.x
  refuses the file outright without this flag (verified:
  ``[PARQUET_TYPE_ILLEGAL]``). The loader converts the resulting
  bigint-ns column to a microsecond timestamp once, at load.
- Arrow execution for every pandas UDF / toPandas path.

Tuning settings change speed only: ``get_spark`` applies them, and no
call touches a caller's own values.

- AQE on (coalesce shuffle partitions + skew-join splitting): at
  100 TB AQE's runtime re-planning is the main defence against skew;
  at test scale it collapses the shuffle tail.
- Shuffle parallelism from the cores: ``get_spark`` sets
  ``spark.sql.shuffle.partitions`` to the session's
  ``defaultParallelism`` (the ``local[N]`` thread count, or the
  executor cores at start-up on a cluster) unless ``extra_conf``
  names it. A fixed count over- or under-fans the host, and AQE
  cannot coalesce an ``availableNow`` micro-batch: a new streaming
  checkpoint plans exactly this many state partitions (an existing
  one keeps the count it recorded). On a real cluster ~2-3x the
  executor cores is the usual ``extra_conf`` choice.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """Local-harness driver heap: big enough to keep bench's 300
    query executions out of GC churn, but never more than the host
    can give (ADVICE r3: a flat 24g default failed JVM launch on
    smaller machines). min(24g, 1/4 of detected RAM), floor 2g;
    SPARK_GRAFT_DRIVER_MEM always wins. Real clusters size executors
    via spark-submit — this only shapes local[] runs."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    total_gib = int(line.split()[1]) // (1024 * 1024)
                    return f"{max(2, min(24, total_gib // 4))}g"
    except OSError:
        pass
    return "8g"


#: answers depend on these; all are runtime-modifiable
_ENFORCED: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}

#: speed only; applied by get_spark, never to a caller's session
_TUNING: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # dims here are tiny; on a cluster this is the default 10MB anyway
    "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
    # allow co-partitioning on a SUBSET of the join keys: a frame
    # already hash-partitioned/bucketed by src joining on (src, dst)
    # then keeps its layout and only the other side moves — q98's
    # closing triangle join drops from 2 exchanges (both sides,
    # 2-key) to 1 (wedge frame only), and the bucketed lanes in
    # tests/test_layout.py read every scan bucket-local. Planner
    # choice only, never semantics.
    "spark.sql.requireAllClusterKeysForCoPartition": "false",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.files.maxPartitionBytes": "128m",
    # local mode = every executor thread + every cached/checkpointed
    # block in ONE JVM: 8g caused visible GC churn across bench's 280
    # query executions (q88 read 12.4 s in-bench vs 5.2 s with a 24g
    # heap on the 125 GiB bench box) — but a flat 24g fails to launch
    # on smaller hosts, so the default now scales with detected RAM.
    "spark.driver.memory": _default_driver_mem(),
    "spark.ui.enabled": "false",
    # local mode runs the whole 165-query bench (330 plan
    # compilations) in ONE JVM: the default 240m JIT code cache fills
    # near the end of the sweep and HotSpot silently stops compiling,
    # which is why late-alphabet complex queries (q98) measured 2-3x
    # slower IN-bench than isolated on identical code. Driver-only
    # setting; real clusters size executor JVMs separately.
    "spark.driver.extraJavaOptions": "-XX:ReservedCodeCacheSize=512m",
    # shuffle-file deletion is ASYNC by default: after hundreds of
    # sf0.1 executions in one JVM the ContextCleaner's deletion
    # backlog races whatever query runs next (bench measured the
    # late-alphabet q98 at 18-24s in-bench vs 6.5-12s cold in every
    # controlled session — fresh, 10-aged, 120-aged). Blocking
    # deletion moves that work inside bench's untimed cleanup window.
    # On a real cluster each executor cleans its own few shuffles and
    # the setting is a no-op in practice.
    "spark.cleaner.referenceTracking.blocking.shuffle": "true",
    # not enforced: every streaming op passes with Spark's default (on)
    "spark.sql.streaming.statefulOperator.checkCorrectness.enabled": "false",
}


def get_spark(app_name: str = "hearthstats-spark", master: str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (all cores if
    unset). On a cluster, leave ``master`` to spark-submit. Shuffle
    partitions follow the session's cores unless ``extra_conf`` sets
    them (see the module docstring).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = {**_ENFORCED, **_TUNING, **(extra_conf or {})}
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if "spark.sql.shuffle.partitions" not in conf:
        spark.conf.set("spark.sql.shuffle.partitions",
                       str(spark.sparkContext.defaultParallelism))
    return spark


def ensure_conf(spark: SparkSession) -> None:
    """Re-apply the enforced settings to a session, e.g. one the
    driver built. Tuning settings are left as the caller set them."""
    for k, v in _ENFORCED.items():
        spark.conf.set(k, v)


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
