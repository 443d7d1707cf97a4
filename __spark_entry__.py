"""Entry contract for the PySpark engine.

``entry(spark)`` is a smoke query; ``queries()[name]`` runs a
registered op and ``oracle_sql()[name]`` is its DuckDB equivalent,
compared by row count + schema + order-insensitive value hash.
Both return the registry in declared (``load_all()``) order;
``tests/test_oracle_sweep.py`` checks every oracle on each Tier-1
run.

Implementation lives in ``hearthstats_spark``; this module just
re-exports the declared-query registry (SURVEY.md §2).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (q15 pricing summary, TPC-H Q1 shape) on
    /root/testdata/sf0.001; driver checks rows>0."""
    from hearthstats_spark.queries.registry import load_all

    reg = load_all()
    return reg["q15_agg_pricing"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    from hearthstats_spark.queries.registry import load_all

    return {name: q.fn for name, q in load_all().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every oracle-checked query; rows-only
    ops (streaming, sketches, side-effect sinks) are omitted."""
    from hearthstats_spark.queries.registry import load_all

    return {name: q.oracle for name, q in load_all().items()
            if q.oracle is not None}
