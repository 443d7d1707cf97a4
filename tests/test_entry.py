"""Driver-contract smoke (t1): entry() answers on sf0.001 with rows,
a stable schema, and no driver-side conf assumptions."""

from __future__ import annotations

import __spark_entry__ as entry_mod


def test_entry_returns_rows(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"l_returnflag", "l_linestatus"} <= set(df.columns)


def test_entry_schema_stable(spark):
    s1 = entry_mod.entry(spark).schema
    s2 = entry_mod.entry(spark).schema
    assert s1 == s2

