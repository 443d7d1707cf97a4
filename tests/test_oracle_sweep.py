"""Registry-wide oracle sweep at sf0.001 — the engine's correctness
gate, run on every Tier-1 pass.

Every op that declares a DuckDB oracle must hash-match it (row
count, column names, order-insensitive bit-exact values). The
rows-only ops that no other test runs must still run and return
rows. Both cases go through ``oracle.check_op``, the same per-op
check-and-release step ``scripts/check_oracle.py`` runs at larger
scale factors.
"""

from __future__ import annotations

import pytest

from hearthstats_spark.oracle import check_op, duck_connect
from hearthstats_spark.queries.registry import load_all
from tests.conftest import SF_SMALL

_REG = load_all()

ORACLE_OPS = [n for n, q in _REG.items() if q.oracle is not None]

#: rows-only ops with no other Tier-1 test: the one-shot sinks. Every
#: other rows-only op is run (and its answer checked) by
#: test_streaming.py, test_degenerate.py or a family test.
UNTESTED_ROWS_ONLY = [
    "s01_jdbc_sqlite_sink",
    "s02_csv_json_roundtrip",
    "s08_orc_avro_roundtrip",
]


@pytest.fixture(scope="module")
def duck():
    con = duck_connect(SF_SMALL)
    yield con
    con.close()


@pytest.mark.parametrize("name", ORACLE_OPS)
def test_op_matches_oracle(spark, duck, name):
    res = check_op(spark, duck, SF_SMALL, _REG[name])
    assert res.ok, str(res)


@pytest.mark.parametrize("name", UNTESTED_ROWS_ONLY)
def test_rows_only_op_returns_rows(spark, name):
    assert _REG[name].oracle is None
    res = check_op(spark, None, SF_SMALL, _REG[name])
    assert res.n_spark >= 1, str(res)


def test_one_shot_sinks_leave_no_scratch(spark, tmp_path, monkeypatch):
    """Each one-shot sink returns a local relation that reads none of
    its scratch files, so it removes its temp directory before it
    returns: two runs in one session leave no ``hs_*`` directory and
    give the same rows."""
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    for name in UNTESTED_ROWS_ONLY:
        runs = [sorted(_REG[name].fn(spark, SF_SMALL).collect())
                for _ in range(2)]
        assert runs[0] == runs[1], name
        assert runs[0], name
        assert not [p.name for p in tmp_path.glob("hs_*")], name
