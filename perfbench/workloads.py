"""Workload definitions: which registered operations a pass runs, and
how each operation's output is checked.

A pass runs every operation of its workload once, in an order drawn
from the run's seed. Operations are registry ids
(``hearthstats_spark.queries.registry``); ``q*`` operations are
checked against their DuckDB oracle, streaming operations whose final
state equals a batch query's answer against that query's oracle
(:data:`BATCH_TWIN`), and the other ``s*`` side-effect operations
against the self-check columns of the summary row they return.

At sf0.1 on 4 cores a warm pass takes about 5 s (``olap_mix``) and
7 s (``pipeline_mix``), so a run (JVM start, a cold pass, the timed
passes) stays near a minute. Every operation returns at most a few
thousand rows (``q44``: 20,000), so moving results to the driver and
checking them stays a small share of the run.
"""

from __future__ import annotations

WORKLOADS = {
    "olap_mix": ("q03_filter_complex", "q06_join_multiway", "q15_agg_pricing",
                 "q28_win_cumulative", "q33_except"),
    "pipeline_mix": ("q44_udf_python", "q62_multimodal_decode",
                     "q187_ann_ivf_kmeans", "s01_jdbc_sqlite_sink",
                     "s03_stream_pipeline"),
}

#: streaming operations checked against the oracle of their batch twin
BATCH_TWIN = {"s03_stream_pipeline": "q41_win_tumbling"}


def _s01(row: dict) -> bool:
    return 0 < row["n_written"] == row["n_readback"]


#: per-operation checks beyond the generic rule in :func:`self_check`
EXTRA_CHECKS = {
    "s01_jdbc_sqlite_sink": _s01,
}


def self_check(name: str, rows: list[dict]) -> bool:
    """A side-effect operation's summary rows are correct when there is
    at least one row, every boolean column is true, every mismatch
    counter (``n_only_*``, ``*_mismatch``) is zero, and the
    operation-specific rule in :data:`EXTRA_CHECKS` holds."""
    if not rows:
        return False
    extra = EXTRA_CHECKS.get(name)
    for row in rows:
        for col, val in row.items():
            if isinstance(val, bool) and not val:
                return False
            if (col.startswith("n_only") or col.endswith("mismatch")) and val:
                return False
        if extra is not None and not extra(row):
            return False
    return True
