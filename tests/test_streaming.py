"""Streaming semantics (SURVEY.md §5.2 item 3): the micro-batch
pipeline replays events out of order across files; with
AvailableNow + a 2 h watermark the final state must equal the batch
answer exactly, and doubled delivery must dedup to the original set."""

from __future__ import annotations

import errno
import os
import tempfile

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from hearthstats_spark import scratch
from tests.conftest import SF_SMALL, jobs_of


def _hourly_batch_answer(spark):
    from hearthstats_spark.io import load_table
    ev = load_table(spark, SF_SMALL, "events")
    batch = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(28,4)")).cast("double")
            .alias("total_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm").alias("hour_start"),
            "event_type", "n", "total_value",
        )
    )
    return {(r["hour_start"], r["event_type"]): (r["n"], r["total_value"])
            for r in batch.collect()}


def test_stream_final_state_equals_batch(spark, registry):
    stream_out = registry["s03_stream_pipeline"].fn(spark, SF_SMALL)
    got = {(r["hour_start"], r["event_type"]): (r["n"], r["total_value"])
           for r in stream_out.collect()}
    assert got == _hourly_batch_answer(spark)  # bit-exact decimal sums


def test_processing_time_trigger_equals_batch(spark, registry):
    """s07: same pipeline as s03 but under the always-on
    ProcessingTime trigger, stopped after the static source drains —
    final memory-sink state must still equal the batch answer."""
    out = registry["s07_stream_processing_time"].fn(spark, SF_SMALL)
    got = {(r["hour_start"], r["event_type"]): (r["n"], r["total_value"])
           for r in out.collect()}
    assert got == _hourly_batch_answer(spark)


def test_no_driver_collect_in_streaming_sinks():
    """Round-1's toy sinks collected micro-batches to the driver;
    the converted sinks (memory/parquet/foreachBatch-parquet) must
    keep the pipeline module free of .collect() — with TWO allowlisted
    exceptions: s17 materializes its 1-row self-verification counter
    frame so its temp version dirs can be deleted before returning
    (ADVICE r3 cleanup), and s27 materializes the 1-row winning-pair
    scalar to compare the maintained store's BPE head against the
    batch one. Metadata-sized, never micro-batch data."""
    import inspect

    from hearthstats_spark.streaming import pipeline

    src = inspect.getsource(pipeline)
    assert src.count(".collect()") == 2
    assert "rows = counters.collect()  # materialize before temp cleanup" in src
    assert '.alias("bp")).collect()[0]["bp"]' in src


def test_stream_stateful_counts_equal_batch(spark, registry):
    """s05's final per-user state must equal the batch groupBy answer
    (value sums rounded: per-key accumulation order differs)."""
    from hearthstats_spark.io import load_table

    got = {r["user_id"]: (r["n_events"], r["total_value"])
           for r in registry["s05_stream_stateful"].fn(spark, SF_SMALL).collect()}
    ev = load_table(spark, SF_SMALL, "events")
    want = {r["user_id"]: (r["n"], r["t"])
            for r in ev.groupBy("user_id").agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("value"), 4).alias("t")).collect()}
    assert set(got) == set(want)
    for u in want:
        assert got[u][0] == want[u][0]
        assert abs(got[u][1] - want[u][1]) <= 1e-3


def test_stream_stream_join_matches_batch(spark, registry):
    """s06: watermarked purchase⋈view within 1h must find exactly the
    batch join's pairs (time-ordered replay keeps disorder intra-file
    so append-mode eviction never drops a true match)."""
    row = registry["s06_stream_stream_join"].fn(spark, SF_SMALL).collect()[0]
    assert row["n_stream_pairs"] == row["n_batch_pairs"]
    assert row["n_batch_pairs"] > 0


def test_stream_stream_left_outer_equals_batch(spark, registry):
    """s19: the watermarked LEFT OUTER stream-stream join must emit
    exactly the batch left join's matched pairs AND its null-extended
    unmatched purchases — the latter only materialize on state-store
    eviction, which the sentinel discipline (two far-future
    filter-surviving rows) forces before the stream ends."""
    row = (registry["s19_stream_stream_left_outer"]
           .fn(spark, SF_SMALL).collect()[0])
    assert row["n_stream_matched"] == row["n_batch_matched"]
    assert row["n_stream_unmatched"] == row["n_batch_unmatched"]
    # the outer path must actually be exercised, not vacuously equal
    assert row["n_batch_unmatched"] > 0


def test_stream_dedup_collapses_double_delivery(spark, registry):
    row = registry["s04_stream_dedup"].fn(spark, SF_SMALL).collect()[0]
    assert row["n_delivered"] == 2 * row["n_expected"]
    assert row["n_after_dedup"] == row["n_expected"]


def test_stream_static_join_equals_batch(spark, registry):
    """s11: stream-static dimension join — final complete-mode state
    must equal the identical batch join+agg, bit-exact (decimal
    revenue sums)."""
    from hearthstats_spark.io import load_table

    out = registry["s11_stream_static_join"].fn(spark, SF_SMALL)
    got = {r["c_nationkey"]: (r["n_purchases"], r["revenue"])
           for r in out.collect()}
    ev = load_table(spark, SF_SMALL, "events")
    cust = load_table(spark, SF_SMALL, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey")
    batch = (
        ev.filter(F.col("event_type") == "purchase")
        .join(cust, "user_id")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.col("value").cast("decimal(28,4)")).cast("double")
             .alias("rev"))
    )
    want = {r["c_nationkey"]: (r["n"], r["rev"]) for r in batch.collect()}
    assert got == want


def test_watermark_drops_late_rows(spark, registry):
    """s13: the engine's own numRowsDroppedByWatermark metric must
    equal the 200-row late re-delivery, and the final state must
    equal the batch answer over the ON-TIME rows (the drops leave no
    trace in the aggregates)."""
    rows = registry["s13_watermark_late_drop"].fn(spark, SF_SMALL).collect()
    assert rows, "s13 produced no state"
    # the metric ticks per dropped PARTIAL row (window×type group),
    # so expected == the late delivery's distinct group count
    assert all(r["late_dropped"] == r["late_partial_groups"] for r in rows)
    assert all(r["late_dropped"] > 0 for r in rows)
    got = {(r["hour_start"], r["event_type"]): (r["n"], r["total_value"])
           for r in rows}
    assert got == _hourly_batch_answer(spark)


def test_checkpoint_restart_exactly_once(spark, registry):
    """s14: a query restarted from the same checkpoint must restore
    phase-1 state (final answer == batch over ALL files) while its
    phase-2 input is ONLY the two newly-arrived files — the offset
    log forbids re-delivery."""
    rows = registry["s14_checkpoint_restart"].fn(spark, SF_SMALL).collect()
    _assert_s14_exactly_once(spark, rows)


def _assert_s14_exactly_once(spark, rows):
    from hearthstats_spark.io import load_table

    assert rows, "s14 produced no state"
    got = {(r["hour_start"], r["event_type"]): (r["n"], r["total_value"])
           for r in rows}
    assert got == _hourly_batch_answer(spark)

    ev = load_table(spark, SF_SMALL, "events")
    late_files_rows = ev.filter(
        ((F.dayofmonth("ts") - 1) / 6).cast("int") >= 3).count()
    assert rows[0]["phase2_input_rows"] == late_files_rows


@pytest.fixture
def replay_store(cache_dir, tmp_path, monkeypatch):
    """A private artifact store for the replay layouts, with every
    per-call directory under ``tmp_path``."""
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    monkeypatch.delenv("SPARK_GRAFT_ANN_FPMODE", raising=False)
    return cache_dir


def _served(src):
    """A replay directory's (file name, row count) pairs in the file
    source's delivery order: by mtime, then name."""
    names = sorted(os.listdir(src), key=lambda f: (
        os.stat(os.path.join(src, f)).st_mtime_ns, f))
    return [(f, pq.read_metadata(os.path.join(src, f)).num_rows)
            for f in names]


@pytest.mark.parametrize("time_ordered", [False, True])
def test_second_replay_source_call_runs_no_spark_job(
        spark, replay_store, time_ordered):
    """Each replay layout is written once per events fingerprint: the
    first call in a fresh store builds it with Spark jobs, a second
    call only links the committed files and submits none."""
    from hearthstats_spark.streaming.pipeline import write_replay_source

    def call(out):
        out.append(write_replay_source(
            spark, SF_SMALL, time_ordered=time_ordered)[0])

    first, again = [], []
    with scratch.workspace(spark, "test_replay"):
        assert jobs_of(spark, lambda: call(first)), "cold call should build"
        assert jobs_of(spark, lambda: call(again)) == []
        assert first[0] != again[0]  # a directory of its own per call
        assert _served(again[0]) == _served(first[0])
        assert len(_served(again[0])) == 5


def test_ops_never_touch_committed_replay_files(spark, registry,
                                                 replay_store):
    """s13 links a late file into its replay directory and s14 moves
    files out and back: neither may change a committed file (relpath,
    size, mtime_ns), and s14's exactly-once accounting must still hold
    on a third call served from the same store."""
    from hearthstats_spark.operators.ann_index import source_fingerprint
    from hearthstats_spark.streaming.pipeline import write_replay_source

    with scratch.workspace(spark, "test_replay"):
        for time_ordered in (False, True):
            write_replay_source(spark, SF_SMALL, time_ordered=time_ordered)
    before = source_fingerprint(replay_store)
    assert before.count(".parquet:") == 10  # both layouts committed
    registry["s13_watermark_late_drop"].fn(spark, SF_SMALL).collect()
    registry["s14_checkpoint_restart"].fn(spark, SF_SMALL).collect()
    rows = registry["s14_checkpoint_restart"].fn(spark, SF_SMALL).collect()
    assert source_fingerprint(replay_store) == before
    _assert_s14_exactly_once(spark, rows)


@pytest.mark.parametrize("lane", ["cache_off", "cross_device_copy"])
def test_replay_lanes_serve_the_same_files(spark, replay_store,
                                           monkeypatch, lane):
    """With the store disabled (``SPARK_GRAFT_ANN_CACHE=0``: the build
    writes into the per-call directory), and when hard links fail with
    ``EXDEV`` (the files are copied with their mtimes), every layout
    serves the same file names in the same delivery order with the
    same per-file row counts as the linked store."""
    from hearthstats_spark.streaming.pipeline import write_replay_source

    layouts = ({}, {"time_ordered": True}, {"duplicate": True})
    with scratch.workspace(spark, "test_replay"):
        linked = [_served(write_replay_source(spark, SF_SMALL, **kw)[0])
                  for kw in layouts]
        if lane == "cache_off":
            monkeypatch.setenv("SPARK_GRAFT_ANN_CACHE", "0")
        else:
            def no_link(src, dst):
                raise OSError(errno.EXDEV, os.strerror(errno.EXDEV), src)
            monkeypatch.setattr(os, "link", no_link)
        other = [_served(write_replay_source(spark, SF_SMALL, **kw)[0])
                 for kw in layouts]
    assert other == linked
    assert [len(files) for files in linked] == [5, 5, 10]


def test_stream_session_window_equals_batch(spark, registry):
    """s16: merging session-window state under micro-batch replay
    must converge to exactly the batch session set — same session
    count and zero row-level mismatches (the op itself computes the
    full-outer comparison; this pins its verdict)."""
    row = registry["s16_stream_session_window"].fn(spark, SF_SMALL).collect()[0]
    assert row["n_sessions_stream"] == row["n_sessions_batch"] > 0
    assert row["n_row_mismatch"] == 0


def test_stream_foreachbatch_merge_equals_batch(spark, registry):
    """s17: the foreachBatch-maintained merged table must equal the
    one-shot batch aggregate exactly — merge math is associative and
    the value sums are DECIMAL, so zero tolerance, zero mismatches —
    and must have seen more than one micro-batch (or nothing
    incremental was tested)."""
    row = (registry["s17_stream_foreachbatch_merge"]
           .fn(spark, SF_SMALL).collect()[0])
    assert row["n_users_merged"] > 0
    assert row["n_batches"] > 1
    assert row["n_only_stream"] == 0
    assert row["n_only_batch"] == 0


def test_s22_transform_with_state_equals_batch(spark, registry):
    """s22 (transformWithStateInPandas / shim lane): the final
    per-user emission must equal the batch groupBy answer, the
    MapState type cardinality must equal the batch distinct count,
    and the ListState per-batch subtotals must rebuild the ValueState
    total exactly (cross-variable consistency) across all 5
    micro-batches."""
    from hearthstats_spark.io import load_table

    rows = registry["s22_stream_transform_with_state"] \
        .fn(spark, SF_SMALL).collect()
    got = {r["user_id"]: r for r in rows}
    ev = load_table(spark, SF_SMALL, "events")
    want = {r["user_id"]: r for r in ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 4).alias("t"),
        F.countDistinct("event_type").alias("k")).collect()}
    assert set(got) == set(want)
    for u, w in want.items():
        g = got[u]
        assert g["n_events"] == w["n"]
        assert abs(g["total_value"] - w["t"]) <= 1e-3
        assert g["n_types"] == w["k"]
        assert g["n_batches"] >= 2  # replay really spanned micro-batches
        assert abs(g["list_total"] - g["total_value"]) <= 1e-6


def test_s23_incremental_dedup_superset_of_frozen_screen(
        spark, registry, tmp_path):
    """s23's growing-index screen must (a) self-verify its counters,
    (b) drop a SUPERSET of q182's frozen-corpus drops — the index
    only ever gains signatures, so a doc q182 drops against the
    corpus alone cannot survive the incremental screen — and (c)
    never report a lower best-match than the frozen screen for any
    doc (same monotonicity, per doc)."""
    from hearthstats_spark.streaming.pipeline import run_streaming_dedup

    results = str(tmp_path / "s23_results")
    with scratch.workspace(spark, "test_s23"):
        summary = run_streaming_dedup(spark, SF_SMALL, results).collect()[0]
    assert summary["consistent"], summary
    assert summary["n_batches"] == 5

    frozen = {r["doc_id"]: r for r in
              registry["q182_dedup_incremental"].fn(spark, SF_SMALL)
              .collect()}
    stream = {r["doc_id"]: r for r in
              spark.read.parquet(results + "/batch_*").collect()}
    assert set(stream) == set(frozen)  # same batch-doc universe
    assert len(stream) == summary["n_seen"]
    for doc_id, fr in frozen.items():
        sr = stream[doc_id]
        assert sr["n_match_best"] >= fr["n_match_best"], doc_id
        if fr["kept"] == 0:       # frozen screen dropped it
            assert sr["kept"] == 0, doc_id
    n_kept = sum(r["kept"] for r in stream.values())
    assert n_kept == summary["n_kept"]


def test_s23_batch_commit_is_replay_idempotent(spark, tmp_path):
    """Crash-replay of a micro-batch (same batch_id redelivered
    after an incomplete run) must converge to the identical index
    state: the layer-per-batch overwrite guarantees it structurally.
    An append-based index would duplicate survivor signatures and
    then drop every replayed doc as a dup of its own first
    attempt."""
    from hearthstats_spark.queries.pipeline_ext3 import signatures_of
    from hearthstats_spark.streaming.pipeline import (
        _index_paths, _sig_schema, screen_and_commit,
    )
    from hearthstats_spark.io import load_table

    d = load_table(spark, SF_SMALL, "documents").filter("text IS NOT NULL")
    idx_base = str(tmp_path / "idx")
    signatures_of(d.filter("doc_id % 10 != 0")).write.parquet(
        idx_base + "/corpus")
    batch = d.filter("doc_id % 10 = 0").select("doc_id", "text")

    first = screen_and_commit(spark, batch, 0, idx_base, None)
    state1 = sorted(tuple(r) for r in spark.read.schema(_sig_schema())
                    .parquet(*_index_paths(idx_base, 1)).collect())
    replay = screen_and_commit(spark, batch, 0, idx_base, None)
    state2 = sorted(tuple(r) for r in spark.read.schema(_sig_schema())
                    .parquet(*_index_paths(idx_base, 1)).collect())
    assert replay == first          # same (n_seen, n_dropped)
    assert state1 == state2         # identical committed index
    assert first[1] > 0             # the screen actually dropped some


def test_s24_stream_serving_equals_batch_adc(spark, registry):
    """s24's self-verification must hold: union of per-micro-batch
    ADC results == the one-shot batch ADC, exactly, for all 50
    streamed queries."""
    row = registry["s24_stream_ann_serving"].fn(spark, SF_SMALL).collect()[0]
    assert row["consistent"], row
    assert row["n_mismatches"] == 0
    assert row["n_queries"] == 50
    assert row["n_stream_rows"] == row["n_batch_rows"] == 250


def test_s25_compaction_invariants(spark, registry):
    """Compaction must be lossless, replay-idempotent, and invisible
    to the screen (identical per-doc decisions on layered vs
    compacted index) — all three self-verified in the returned
    counter row."""
    row = registry["s25_stream_index_compaction"].fn(
        spark, SF_SMALL).collect()[0]
    assert row["consistent"], row
    assert row["idempotent"]
    assert row["n_decision_mismatch"] == 0
    assert row["rows_compacted"] == row["rows_layered"]
    assert row["n_layers"] == 5
    assert row["n_next_docs"] > 0


def test_corpus_sig_builders_are_content_equal(spark):
    """The shared "minhash_sig_index" artifact has two builders —
    q182's unfiltered corpus slice and the streaming lanes'
    text-filtered one. Null-text docs carry no shingles, so both must
    produce the identical frame (whichever wins the first-touch race,
    every consumer reads the same rows)."""
    from hearthstats_spark.io import load_table
    from hearthstats_spark.queries.pipeline_ext3 import (
        _BATCH_MOD, _signatures, signatures_of,
    )

    d = load_table(spark, SF_SMALL, "documents")
    filtered = signatures_of(
        d.filter(d.text.isNotNull() & (d.doc_id % _BATCH_MOD != 0)))
    unfiltered = _signatures(spark, SF_SMALL, batch=False)
    assert (sorted(map(tuple, filtered.collect()))
            == sorted(map(tuple, unfiltered.collect())))
    # same lemma for "minhash_sig_all": q197 builds it text-filtered,
    # q118 unfiltered — both must write the identical frame
    all_filtered = signatures_of(d.filter(d.text.isNotNull()))
    all_unfiltered = signatures_of(d)
    assert (sorted(map(tuple, all_filtered.collect()))
            == sorted(map(tuple, all_unfiltered.collect())))


def test_s26_retention_invariants(spark, registry):
    """The windowed view of the full index must be monotone (never
    drops a doc the full screen kept), must actually expire something
    (rescues > 0), and retention must be invisible while every layer
    is inside the window."""
    row = registry["s26_stream_index_retention"].fn(
        spark, SF_SMALL).collect()[0]
    assert row["consistent"], row
    assert row["n_monotonicity_violations"] == 0
    assert row["n_rescued_by_expiry"] > 0
    assert row["n_early_mismatch"] == 0
    # informational channel exists; on the shipped corpus the ttl
    # pipeline happens to agree with the window-of-full screen (no
    # cross-batch near-dup chain) — ≥ 0 by definition, NOT asserted 0
    assert row["n_ttl_wof_divergence"] >= 0


def test_s26_pipeline_monotonicity_is_unsound_on_chains(spark):
    """Pin of ADVICE r6 (s26): with a cross-batch near-dup CHAIN
    (A ≈ expired corpus doc C, B ≈ A, B ≉ C), a perfectly correct
    retention pipeline keeps FEWER docs than the full pipeline —
    the rescued A is committed into the ttl index and kills B —
    so 'ttl never drops what full kept' is not an invariant.
    Screening against the retention-window SUBSET of the full
    lane's own layers (what s26 now does) stays monotone on the
    same chain. Simulated at the signature level (handcrafted
    16-slot MinHash rows) so the chain is exact, not a property of
    any corpus."""
    from hearthstats_spark.queries.pipeline_ext3 import (
        _DROP_AT, _MH_K, best_match_against_index,
    )

    schema = "id long, " + ", ".join(f"m{j} long" for j in range(_MH_K))

    def sig(id_, vals):
        return spark.createDataFrame([(id_, *vals)], schema)

    empty = spark.createDataFrame([], schema)
    c_vals = list(range(_MH_K))
    a_vals = c_vals[:10] + [100 + j for j in range(10, _MH_K)]  # ≈ C
    b_vals = [200 + j for j in range(6)] + a_vals[6:]           # ≈ A
    C, A, B = sig(1, c_vals), sig(2, a_vals), sig(3, b_vals)

    def kept(new_sig, index_sig) -> bool:
        rows = best_match_against_index(new_sig, index_sig).collect()
        best = max((r["n_match_best"] for r in rows), default=0)
        return best < _DROP_AT

    # sanity of the chain: A dups C, B dups A, B does NOT dup C
    assert not kept(A, C) and not kept(B, A) and kept(B, C)

    # full pipeline (layers: corpus={C}; batches 0,1 empty; A at 2):
    # A dropped (C visible) → full layer_2 = {}; B kept at batch 3
    kept_full_b = kept(B, C.unionByName(empty))
    # ttl pipeline, W=2: at batch 2 the corpus is expired → A kept,
    # committed; at batch 3 layers {1,2} = {A} visible → B dropped
    kept_ttl_a = kept(A, empty)
    assert kept_ttl_a  # the rescue that poisons the ttl index
    kept_ttl_b = kept(B, A)
    # the OLD invariant fires on a CORRECT pipeline: full kept B,
    # ttl dropped it
    assert kept_full_b and not kept_ttl_b

    # NEW invariant: window-of-full at batch 3 sees full's layers
    # {1,2} — both EMPTY (full dropped A) → B kept; monotone vs full
    kept_wof_b = kept(B, empty)
    assert kept_full_b <= kept_wof_b  # never drops what full kept


def test_s27_vocab_maintenance_invariants(spark, registry):
    """The maintained word-frequency store must equal the batch
    word_freqs exactly, grow monotonically per word across layers,
    and feed the SAME top merge candidate to a BPE trainer."""
    row = registry["s27_stream_vocab_maintenance"].fn(
        spark, SF_SMALL).collect()[0]
    assert row["consistent"], row
    assert row["n_batches"] == 3
    assert row["n_vocab_mismatch"] == 0
    assert row["n_monotonicity_violations"] == 0
    assert row["head_match"]


def test_transform_with_state_runtime_probe():
    """Version probe (VERDICT r9 item 7): s22 runs a shim lane over
    ``applyInPandasWithState`` because ``transformWithStateInPandas``'s
    Python state server needs google.protobuf, which this container
    does not ship. This test PASSES while that holds and FAILS LOUDLY
    the round the runtime gains protobuf — the action then is:
    confirm s22's auto-flip took the real lane
    (streaming/pipeline.py, lane == 'transformWithState'), move the
    s23-s27 index-maintenance lanes onto StatefulProcessor where
    they benefit, and retire this probe with that commit."""
    import importlib.util

    from pyspark.sql.group import GroupedData

    try:
        have_proto = importlib.util.find_spec(
            "google.protobuf") is not None
    except ModuleNotFoundError:
        have_proto = False
    have_api = hasattr(GroupedData, "transformWithStateInPandas")
    assert have_api, (
        "PySpark lost transformWithStateInPandas — s22's auto-flip "
        "probe keys on google.protobuf only; revisit the lane gate")
    if have_proto:
        # ADVICE r10: an unrelated dependency pulling in protobuf is
        # an ENVIRONMENT change, not a code regression — don't turn
        # the whole suite red for it. Skip LOUDLY instead: the skip
        # reason carries the action item, and the -ra summary line is
        # the canary's new signal.
        pytest.skip(
            "CANARY: google.protobuf is now available — the "
            "transformWithState runtime works; adopt the real lane "
            "per this docstring and retire this probe")
