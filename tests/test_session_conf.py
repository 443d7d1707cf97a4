"""Driver-session contract: the driver invokes queries()[name] on a
session IT built. Every registered call re-applies the enforced
settings answers depend on (UTC timezone above all — a non-UTC
session shifts every date_format/window boundary off the DuckDB
oracle) and leaves the caller's tuning exactly as it found it."""

from __future__ import annotations

from tests.conftest import SF_SMALL


def test_registered_query_restores_utc(spark, registry):
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        df = registry["q35_date_funcs"].fn(spark, SF_SMALL)
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        # and the values are UTC-correct: 1995-01-01 is day 0
        row = (df.filter("days_since_epoch95 = 0").limit(1).collect())
        assert row, "no epoch-day-0 orders found"
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


_CALLER_TUNING = {
    "spark.sql.shuffle.partitions": "4",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.enabled": "false",
}


def test_registered_calls_keep_caller_tuning(spark, registry):
    """A q-op and a side-effect s-op on a driver-built session: its
    tuning and its partition-overwrite mode survive both calls; only
    the enforced timezone is forced back to UTC."""
    s = spark.newSession()
    for k, v in _CALLER_TUNING.items():
        s.conf.set(k, v)
    s.conf.set("spark.sql.session.timeZone", "America/New_York")
    overwrite = "spark.sql.sources.partitionOverwriteMode"
    mode = s.conf.get(overwrite)
    for name in ("q03_filter_complex", "s10_partitioned_layout"):
        assert registry[name].fn(s, SF_SMALL).collect()
    assert {k: s.conf.get(k) for k in _CALLER_TUNING} == _CALLER_TUNING
    assert s.conf.get(overwrite) == mode
    assert s.conf.get("spark.sql.session.timeZone") == "UTC"


def test_wrapped_fn_keeps_metadata(registry):
    q = registry["q15_agg_pricing"]
    assert q.fn.__name__ == "q15_agg_pricing"  # functools.wraps applied
    assert q.fn.__doc__


def test_get_spark_derives_shuffle_partitions_from_cores(spark):
    """``get_spark`` plans one shuffle (and new-checkpoint state)
    partition per core unless the caller passes its own value."""
    from hearthstats_spark.session import get_spark

    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    try:
        s = get_spark()
        assert s.conf.get(key) == str(s.sparkContext.defaultParallelism)
        s = get_spark(extra_conf={key: "7"})
        assert s.conf.get(key) == "7"
    finally:
        spark.conf.set(key, prev)
