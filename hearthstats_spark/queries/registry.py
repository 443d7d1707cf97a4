"""Declared-query registry (SURVEY.md §2 — the driver's contract).

Every operator the engine implements registers here as
``name -> (spark_fn, oracle_sql | None)``. ``__spark_entry__.py``
re-exports the registry as ``queries()`` / ``oracle_sql()``; the
driver runs both sides at sf=0.01 and compares row-count + schema +
order-insensitive value-hash. Queries without an oracle get a
rows-only check (streaming, sketches, side-effect sinks).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from hearthstats_spark import scratch

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL, or None for rows-only checks


REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None = None):
    """Decorator: add a (spark_fn, oracle) pair to the registry.

    The registered callable first re-applies the enforced settings
    (``session.ensure_conf``: UTC, nanosAsLong, Arrow) and leaves the
    caller's tuning alone: the driver invokes queries on a session IT
    built, and e.g. a non-UTC session timezone would shift every
    date_format/window boundary away from the DuckDB oracle's.

    It then runs the op inside its own ``scratch.workspace``: the op's
    scratch directories and memory-sink views are removed when it
    returns, so the returned frame must read none of them."""
    import functools

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query id {name!r}")

        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            from hearthstats_spark.session import ensure_conf

            ensure_conf(spark)
            with scratch.workspace(spark, name):
                return fn(spark, sf_dir)

        REGISTRY[name] = Query(name, wrapped, oracle)
        return fn
    return deco


#: every module that registers queries; tests assert the registry ends
#: up with the full SURVEY.md §2 inventory after loading these.
QUERY_MODULES = (
    "hearthstats_spark.queries.scans",
    "hearthstats_spark.queries.joins",
    "hearthstats_spark.queries.aggregates",
    "hearthstats_spark.queries.windows",
    "hearthstats_spark.queries.setops",
    "hearthstats_spark.queries.scalar_funcs",
    "hearthstats_spark.queries.events",
    "hearthstats_spark.queries.udfs",
    "hearthstats_spark.queries.llm",
    "hearthstats_spark.queries.textops",
    "hearthstats_spark.queries.dedup_ext",
    "hearthstats_spark.queries.analytics_ext",
    "hearthstats_spark.queries.analytics_ext2",
    "hearthstats_spark.queries.pipeline_ext",
    "hearthstats_spark.queries.pipeline_ext2",
    "hearthstats_spark.queries.analytics_ext3",
    "hearthstats_spark.queries.analytics_ext4",
    "hearthstats_spark.queries.analytics_ext5",
    "hearthstats_spark.queries.analytics_ext6",
    "hearthstats_spark.queries.analytics_ext7",
    "hearthstats_spark.queries.analytics_ext8",
    "hearthstats_spark.queries.pipeline_ext3",
    "hearthstats_spark.queries.ann",
    "hearthstats_spark.queries.ann2",
    "hearthstats_spark.queries.ann3",
    "hearthstats_spark.queries.tokenizer",
    "hearthstats_spark.queries.multimodal",
    "hearthstats_spark.queries.sketches",
    "hearthstats_spark.queries.sinks",
    "hearthstats_spark.streaming.pipeline",
)


def load_all() -> dict[str, Query]:
    """Import every query module so registrations run.

    A module that fails to import is reported on stderr but does not
    take down the rest of the registry (the driver should still get
    every loadable query); tests assert zero load failures.
    """
    import importlib
    import sys
    import traceback

    for mod in QUERY_MODULES:
        try:
            importlib.import_module(mod)
        except Exception:
            print(f"[hearthstats_spark] FAILED to load {mod}:", file=sys.stderr)
            traceback.print_exc()
            LOAD_FAILURES.append(mod)
    return REGISTRY


LOAD_FAILURES: list[str] = []
