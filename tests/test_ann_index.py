"""The persisted ANN-index lane (operators/ann_index.py): read-back
must equal retrain bit-for-bit, the content key must invalidate on
source-data change, the disabled lane must be the original
self-contained plan, and a half-written directory must be invisible."""

from __future__ import annotations

import os
import shutil

import pytest

from tests.conftest import SF_SMALL


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_readback_equals_retrain(spark, registry, cache_dir, monkeypatch):
    """q183 through a cold cache (trains + persists), through the warm
    cache (pure read-back), and with the cache disabled (the original
    self-contained plan) must produce identical rows — the persisted
    artifacts are deterministic pure functions of the source table."""
    fn = registry["q183_ann_pq"].fn
    cold = _rows(fn(spark, SF_SMALL))
    assert os.path.isdir(cache_dir) and os.listdir(cache_dir)
    warm = _rows(fn(spark, SF_SMALL))
    monkeypatch.setenv("SPARK_GRAFT_ANN_CACHE", "0")
    retrain = _rows(fn(spark, SF_SMALL))
    assert cold == warm == retrain and len(cold) > 0


def test_artifact_readback_is_bit_exact(spark, cache_dir):
    """Frame-level pin of the same property: the persisted codebook
    read back from parquet equals the freshly-trained frame."""
    from hearthstats_spark.operators.ann_index import persisted
    from hearthstats_spark.queries.ann2 import (
        _subvectors, _trained_codebook,
    )

    sub = _subvectors(spark, SF_SMALL)
    got = persisted(spark, SF_SMALL, "pq_codebook",
                    lambda: _trained_codebook(sub))
    assert _rows(got) == _rows(_trained_codebook(sub))


def test_key_invalidates_on_source_change(tmp_path, monkeypatch):
    """Rewriting any source file (size or mtime) must change the
    artifact path — regenerated testdata retrains instead of serving
    stale codes."""
    from hearthstats_spark.operators.ann_index import artifact_path

    sf = tmp_path / "sf"
    tab = sf / "embeddings.parquet"
    tab.mkdir(parents=True)
    f = tab / "part-0.parquet"
    f.write_bytes(b"a" * 10)
    p1 = artifact_path(str(sf), "pq_codebook")
    f.write_bytes(b"b" * 11)  # size change
    p2 = artifact_path(str(sf), "pq_codebook")
    assert p1 != p2
    os.utime(f, ns=(1, 1))  # mtime change, same size
    p3 = artifact_path(str(sf), "pq_codebook")
    assert p3 not in (p1, p2)
    # different artifact name / version → different path
    assert artifact_path(str(sf), "pq_codes") != p3
    assert artifact_path(str(sf), "pq_codebook", version=2) != p3


def test_content_mode_catches_stat_identical_rewrite(tmp_path,
                                                     monkeypatch):
    """VERDICT r7 stretch 8: an in-place rewrite that preserves BOTH
    size and mtime defeats the fast (size, mtime_ns) fingerprint —
    SPARK_GRAFT_ANN_FPMODE=content must miss the cache on any byte
    change, while the stat default (documented) cannot."""
    from hearthstats_spark.operators.ann_index import artifact_path

    sf = tmp_path / "sf"
    tab = sf / "embeddings.parquet"
    tab.mkdir(parents=True)
    f = tab / "part-0.parquet"
    f.write_bytes(b"a" * 10)
    os.utime(f, ns=(1234, 1234))
    stat_p1 = artifact_path(str(sf), "pq_codebook")
    monkeypatch.setenv("SPARK_GRAFT_ANN_FPMODE", "content")
    content_p1 = artifact_path(str(sf), "pq_codebook")
    # byte change, stat-identical (same size, mtime pinned back)
    f.write_bytes(b"b" * 10)
    os.utime(f, ns=(1234, 1234))
    content_p2 = artifact_path(str(sf), "pq_codebook")
    assert content_p1 != content_p2  # content mode: cache miss
    monkeypatch.delenv("SPARK_GRAFT_ANN_FPMODE")
    stat_p2 = artifact_path(str(sf), "pq_codebook")
    assert stat_p1 == stat_p2  # stat mode: documented blind spot


def test_default_cache_root_rejects_foreign_ownership(monkeypatch):
    """ADVICE r7: the default cache root must refuse to serve
    artifacts from a directory owned by another uid (a pre-planted
    dir in the world-writable tempdir would otherwise be read
    silently). Simulated by stubbing os.getuid — a real foreign dir
    needs root to create."""
    import tempfile

    import hearthstats_spark.operators.ann_index as ai

    monkeypatch.delenv("SPARK_GRAFT_ANN_CACHE_DIR", raising=False)
    root = ai._cache_root()  # creates the uid-keyed dir, mode 0700
    assert f"uid{os.getuid()}" in os.path.basename(root)
    # pre-plant the dir a DIFFERENT uid would key to; it is owned by
    # the REAL uid, i.e. "someone else" from the stubbed uid's view
    fake_uid = os.getuid() + 1
    planted = os.path.join(tempfile.gettempdir(),
                           f"hearthstats_ann_index_uid{fake_uid}")
    os.makedirs(planted, exist_ok=True)
    monkeypatch.setattr(ai.os, "getuid", lambda: fake_uid)
    try:
        with pytest.raises(RuntimeError, match="owned by uid"):
            ai._cache_root()
    finally:
        os.rmdir(planted)


def test_half_written_directory_is_rebuilt(spark, cache_dir):
    """A directory without Spark's _SUCCESS marker (crashed writer,
    lost rename race) must be treated as absent and rebuilt through
    the tmp-dir + atomic-rename protocol."""
    from hearthstats_spark.operators.ann_index import (
        artifact_path, persisted,
    )
    from hearthstats_spark.queries.ann2 import (
        _subvectors, _trained_codebook,
    )

    sub = _subvectors(spark, SF_SMALL)
    want = _rows(_trained_codebook(sub))
    path = artifact_path(SF_SMALL, "pq_codebook")
    got = persisted(spark, SF_SMALL, "pq_codebook",
                    lambda: _trained_codebook(sub))
    assert _rows(got) == want
    os.remove(os.path.join(path, "_SUCCESS"))  # simulate half-write
    got2 = persisted(spark, SF_SMALL, "pq_codebook",
                     lambda: _trained_codebook(sub))
    assert _rows(got2) == want
    assert os.path.isfile(os.path.join(path, "_SUCCESS"))
    # no stray tmp dirs left behind
    stray = [d for d in os.listdir(cache_dir) if ".tmp-" in d]
    assert not stray


def test_co_order_edges_readback_is_content_equal(spark, cache_dir):
    """The round-7 standing graph table: the persisted co-purchase
    edge list read back from parquet holds exactly the rows the
    direct builder produces (set equality — row ORDER differs across
    a parquet roundtrip, and every consumer aggregates)."""
    from hearthstats_spark.operators.ann_index import persisted
    from hearthstats_spark.queries.analytics_ext import (
        BASKET_CAP, co_order_edges,
    )

    got = persisted(spark, SF_SMALL, "co_order_edges",
                    lambda: co_order_edges(spark, SF_SMALL),
                    table="lineitem", version=BASKET_CAP)
    assert (sorted(map(tuple, got.collect()))
            == sorted(map(tuple, co_order_edges(spark, SF_SMALL).collect())))
