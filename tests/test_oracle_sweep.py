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


SIDE_EFFECT_OPS = [n for n in _REG if n.startswith("s")]


@pytest.mark.parametrize("name", SIDE_EFFECT_OPS)
def test_one_shot_sinks_leave_no_scratch(spark, tmp_path, monkeypatch,
                                         name):
    """Every side-effect and streaming op runs in a registry workspace
    that removes its scratch directories and memory-sink views when
    the op returns: two runs in one session give the same rows, leave
    no ``hs_*`` entry in the temp dir and no new catalog table."""
    import tempfile
    from collections import Counter

    from hearthstats_spark.operators import ann_index

    # keep serving artifacts from the usual store while the temp dir
    # points at tmp_path
    if ann_index.cache_enabled():
        monkeypatch.setenv("SPARK_GRAFT_ANN_CACHE_DIR",
                           ann_index._cache_root())
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    tables = {t.name for t in spark.catalog.listTables()}
    runs = [Counter(_REG[name].fn(spark, SF_SMALL).collect())
            for _ in range(2)]
    assert runs[0] == runs[1]
    assert runs[0]
    assert not [p.name for p in tmp_path.glob("hs_*")]
    assert {t.name for t in spark.catalog.listTables()} == tables
