"""DuckDB-oracle comparison harness (SURVEY.md §5.2 t2).

Runs the Spark query and the DuckDB oracle SQL on the same parquet
tables and compares row-count + column names + order-insensitive
values. :func:`check_op` is the one per-op check-and-release step:
``tests/test_oracle_sweep.py`` (every op at sf0.001, Tier-1) and
``scripts/check_oracle.py`` (any scale factor) both run it.

The value compare is *bit-exact* on purpose: the contract is a
value hash, so "close" floats are failures. The §1.3 discipline
(decimal sums, ROUND on both sides, minute-truncated timestamp
strings) is what makes bit-exactness achievable.
"""

from __future__ import annotations

import datetime as _dt
import math
import os
from dataclasses import dataclass, field

import duckdb
import pandas as pd

from hearthstats_spark.io import TABLES


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """In-memory DuckDB with the 10 tables registered as views —
    mirrors the driver's pre-registered views."""
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
        )
    return con


def _norm_cell(v):
    """Canonical, engine-independent cell representation."""
    if v is None:
        return "\x00NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "\x00NULL"
        if v == 0.0:
            v = 0.0  # -0.0 == 0.0
        return repr(v)  # exact f64 bits
    if isinstance(v, (pd.Timestamp, _dt.datetime)):
        if pd.isna(v):
            return "\x00NULL"
        return v.isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    if pd.isna(v) if not isinstance(v, (list, tuple, dict)) else False:
        return "\x00NULL"
    if isinstance(v, (int,)):
        return str(v)
    return str(v)


def canon_rows(pdf: pd.DataFrame) -> list[tuple]:
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    rows = [tuple(_norm_cell(v) for v in row) for row in pdf.itertuples(index=False)]
    rows.sort()
    return rows


@dataclass
class CompareResult:
    name: str
    ok: bool
    n_spark: int
    n_duck: int | None  # None: rows-only op, nothing to compare
    issues: list[str] = field(default_factory=list)

    def __str__(self) -> str:
        if self.n_duck is None:
            return f"[rows] {self.name}: {self.n_spark} rows"
        s = "OK " if self.ok else "FAIL"
        msg = f"[{s}] {self.name}: spark={self.n_spark} duck={self.n_duck}"
        for i in self.issues[:8]:
            msg += f"\n    - {i}"
        return msg


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> CompareResult:
    issues: list[str] = []
    sc, dc = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if sc != dc:
        issues.append(f"column mismatch: spark={sc} duck={dc}")
        return CompareResult(name, False, len(spark_pdf), len(duck_pdf), issues)
    if len(spark_pdf) != len(duck_pdf):
        issues.append("row count mismatch")
    srows, drows = canon_rows(spark_pdf), canon_rows(duck_pdf)
    if srows != drows:
        sset, dset = set(srows), set(drows)
        only_s = sorted(sset - dset)[:3]
        only_d = sorted(dset - sset)[:3]
        issues.append(f"value mismatch: {len(sset - dset)} spark-only, "
                      f"{len(dset - sset)} duck-only rows")
        for r in only_s:
            issues.append(f"spark-only: {r}")
        for r in only_d:
            issues.append(f"duck-only:  {r}")
    return CompareResult(name, not issues, len(spark_pdf), len(duck_pdf), issues)


def check_op(spark, con, sf_dir: str, q) -> CompareResult:
    """Check one registered op (a ``registry.Query``): compare it
    against its oracle, or count the rows of a rows-only op. Either
    way, release what the op left cached before returning.

    The queries leave guard-applied broadcast frames and their own
    ``.cache()``s (q92's dl/tf, q94's cnt, the KS vals frame, the
    dedup shingle frames) to their caller; this is that boundary, so
    a 200-op sweep does not accumulate one cached frame per op."""
    from hearthstats_spark.operators.bounded import release_guard_caches

    try:
        if q.oracle is None:
            return CompareResult(q.name, True, q.fn(spark, sf_dir).count(),
                                 None)
        return compare(q.name, q.fn(spark, sf_dir).toPandas(),
                       con.execute(q.oracle).fetchdf())
    finally:
        release_guard_caches()
        spark.catalog.clearCache()
