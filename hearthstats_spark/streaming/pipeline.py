"""Structured Streaming pipeline (SURVEY.md §2 s03-s07, s11, s13,
s14, s16, s17, s19, s22-s27; §3.2 entry point C).

The batch twins (q41-q43) are oracle-checked; DuckDB has no streaming
semantics, so the streaming ops run the REAL streaming runtime —
``readStream`` file source → event-time windows + watermark →
micro-batch sinks — and are graded rows-only. Late/out-of-order
delivery correctness is asserted in tests/test_streaming.py by
replaying events across micro-batches (FIXTURES.md §streaming).

Design:
- Every directory an op writes (replay links, sink output,
  checkpoints) is a ``scratch.path`` of the call's workspace, and
  every memory-sink query is named by ``scratch.table``; the registry
  removes both when the op returns. So an op returns a local
  relation, a memory-sink frame (which keeps its rows once its view
  is dropped), or a ``localCheckpoint`` of what it read back.
- ``_drain`` runs a stream to completion under ``Trigger.AvailableNow``
  with a fresh workspace checkpoint (s14 passes the one its two
  phases share).
- The source directory is file-per-micro-batch partitioned by
  ``event_id % 5`` so event time arrives out of order across batches
  (a real replay, not a single sorted file). Each layout is written
  once per events fingerprint into the artifact store, and each call
  reads a fresh directory of hard links to those files; a served
  file shares the committed inode and its mtime sets the delivery
  order, so ops may only rename, add or unlink directory entries,
  never write to a file (``write_replay_source``).
- ``Trigger.AvailableNow`` drains the source then stops — the batch
  equivalence property (final state == batch answer) is exact; s07
  runs the same pipeline under a ``ProcessingTime`` trigger (the
  always-on production mode) and stops once the source drains.
- No sink collects micro-batches to the driver (round-1's toy sinks
  did): s03/s07 use the ``memory`` sink in ``complete`` mode on the
  AGGREGATED stream (bounded: one row per window × key), s04/s06
  write append-mode output straight to a parquet file sink, and s05
  lands each micro-batch's state emissions in parquet via a
  distributed ``foreachBatch`` write — the copy-safe production
  patterns (memory → any serving store; foreachBatch → idempotent
  upsert keyed on batch_id).

Scale notes: watermark bounds the state store (buckets older than
watermark are evicted); the shuffle per micro-batch carries one row
per (window × key) thanks to partial aggregation, exactly like batch.
"""

from __future__ import annotations

import errno
import json
import os
import shutil
from datetime import timedelta

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from hearthstats_spark import scratch
from hearthstats_spark.io import load_table, local_frame
from hearthstats_spark.operators import ann_index
from hearthstats_spark.queries.registry import register

DEC = "decimal(28,4)"


def write_replay_source(spark: SparkSession, sf_dir: str,
                        duplicate: bool = False,
                        time_ordered: bool = False) -> tuple[str, DataFrame]:
    """Serve events as a 5-file replay directory. Default split is
    ``event_id % 5`` → event-time disorder ACROSS files (the
    watermark-stress replay for aggregations, which tolerate late
    updates in `update` mode). ``time_ordered=True`` splits by 6-day
    ts ranges instead — files arrive in event-time order with only
    intra-file disorder, the delivery profile stream-stream joins
    need (append-mode state eviction drops truly-late rows). With
    ``duplicate=True`` every file is linked twice (dedup input).

    Each layout is written once per events fingerprint into the
    artifact store (``ann_index.commit_artifact``); every call gets a
    fresh workspace directory (``scratch.path``) of hard links
    ``part_{i}_{r}_{n}.parquet`` to the committed files, so a second
    call submits no Spark job, and the workspace's removal unlinks
    only the links. The caller may rename, add or unlink entries (s14
    moves files out and back, s13 links in a late file) but must never
    write to or ``os.utime`` a served file: it shares its inode with
    the committed one, so the change would reach every later call, and
    the file source delivers files in mtime order, which is the
    build's write order. Across filesystems (``EXDEV``) the files are
    copied with their mtimes. With ``SPARK_GRAFT_ANN_CACHE=0`` the
    same build writes into a workspace directory instead."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )

    def build(out: str) -> None:
        for i in range(5):
            if time_ordered:
                chunk = ev.filter(
                    ((F.dayofmonth("ts") - 1) / 6).cast("int") == i)
            else:
                chunk = ev.filter(F.col("event_id") % 5 == i)
            chunk.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(out, f"batch_{i}")
            )
        # the store's commit marker; Spark writes one per batch_i only
        open(os.path.join(out, "_SUCCESS"), "w").close()

    if ann_index.cache_enabled():
        layout = "time_ordered" if time_ordered else "event_id_mod5"
        base = ann_index.artifact_path(sf_dir, f"replay_{layout}",
                                       table="events")
        ann_index.commit_artifact(base, build)
        flat = scratch.path("stream_src")
    else:
        base = scratch.path("stream_src")
        build(base)
        flat = os.path.join(base, "flat")
        os.makedirs(flat)
    # flatten into one dir of files (file source watches one dir)
    n = 0
    for i in range(5):
        d = os.path.join(base, f"batch_{i}")
        for f in sorted(os.listdir(d)):
            if f.endswith(".parquet"):
                reps = 2 if duplicate else 1
                for r in range(reps):
                    _link_or_copy(os.path.join(d, f), os.path.join(
                        flat, f"part_{i}_{r}_{n}.parquet"))
                    n += 1
    return flat, ev


def _link_or_copy(src: str, dst: str) -> None:
    """Hard-link ``src`` to ``dst``; copy it with its mtime when the
    two sit on different filesystems (an operator-set
    ``SPARK_GRAFT_ANN_CACHE_DIR`` elsewhere)."""
    try:
        os.link(src, dst)
    except OSError as e:
        if e.errno != errno.EXDEV:
            raise
        shutil.copy2(src, dst)


def _full_progress(q, spark: SparkSession) -> list:
    """``q.recentProgress`` with a LOUD truncation guard.

    recentProgress retains only the last
    ``spark.sql.streaming.numRecentProgressUpdates`` entries (default
    100); with maxFilesPerTrigger=1 a replay source that ever stages
    more files than that would silently drop the oldest batches from
    any metric sum (s13's watermark-drop count, s14's input-row
    accounting). Fail loudly at the cliff instead of undercounting —
    the production-scale alternative is a StreamingQueryListener,
    which has no retention cap."""
    limit = int(spark.conf.get(
        "spark.sql.streaming.numRecentProgressUpdates", "100"))
    progress = q.recentProgress
    if len(progress) >= limit:
        raise RuntimeError(
            f"streaming query produced {len(progress)} progress updates, "
            f">= the recentProgress retention limit ({limit}): metric "
            "sums would silently undercount. Raise "
            "spark.sql.streaming.numRecentProgressUpdates or switch to "
            "a StreamingQueryListener.")
    return progress


def _drain(writer: DataStreamWriter,
           checkpoint: str | None = None) -> StreamingQuery:
    """Run ``writer`` under ``Trigger.AvailableNow`` until its source
    is drained, checkpointing into a fresh workspace directory unless
    ``checkpoint`` names one; return the terminated query."""
    q = (writer.trigger(availableNow=True)
         .option("checkpointLocation", checkpoint or scratch.path("ckpt"))
         .start())
    q.awaitTermination()
    return q


def _append_batches(out: str):
    """foreachBatch sink: append each micro-batch to parquet under
    ``out``, tagged with its ``batch_id`` (the idempotent upsert key a
    real kv-store write would use); nothing collects to the driver."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        (batch_df.withColumn("batch_id", F.lit(batch_id))
         .write.mode("append").parquet(out))

    return sink


def _last_batch(spark: SparkSession, out: str, *keys: str) -> DataFrame:
    """The rows ``_append_batches`` wrote to ``out`` in the last batch
    that emitted each key: an update-mode stream's final state."""
    w = Window.partitionBy(*keys).orderBy(F.col("batch_id").desc())
    return (spark.read.parquet(out)
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1))


def _hourly_agg_stream(spark: SparkSession, src: str, schema):
    """Shared s03/s07 pipeline: watermark → tumbling window agg."""
    return (
        spark.readStream.schema(schema).parquet(src)
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("total_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm").alias("hour_start"),
            "event_type", "n", "total_value",
        )
    )


@register("s03_stream_pipeline", oracle=None)  # rows-only: no streaming oracle
def s03_stream_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q41 (hourly tumbling agg) as a real micro-batch stream:
    readStream → withWatermark(2h) → window agg → ``memory`` sink in
    ``complete`` mode. The sink holds the full CURRENT result table
    (bounded: one row per hour × event_type, independent of input
    volume) — the upsert-semantics pattern that swaps for any serving
    store in production; no micro-batch ever collects to the driver.
    Returns the final state; equality with the batch q41 answer is
    asserted in tests/test_streaming.py."""
    src, ev = write_replay_source(spark, sf_dir)
    name = scratch.table("s03_state")
    _drain(_hourly_agg_stream(spark, src, ev.schema)
           .writeStream.outputMode("complete")
           .format("memory").queryName(name))
    return spark.table(name)


@register("s06_stream_stream_join", oracle=None)  # rows-only: no streaming oracle
def s06_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: the purchase stream joins the view
    stream per user within a 1-hour event-time window. Both sides are
    watermarked and the join carries an explicit time-range condition
    — that pair is what lets the state store EVICT buffered rows (an
    unconstrained stream-stream join buffers forever). Output:
    (user_id, n_view_purchase_pairs) per user; equality with the
    batch self-join is asserted in tests/test_streaming.py.

    Source is the time-ordered replay: in append-mode joins the state
    store EVICTS below-watermark rows, so cross-file event-time
    disorder (the agg replay's profile) would legitimately drop
    matches; ordered files bound disorder to intra-file."""
    src, ev = write_replay_source(spark, sf_dir, time_ordered=True)

    def side(event_type: str, alias: str):
        return (
            spark.readStream.schema(ev.schema).parquet(src)
            .filter(F.col("event_type") == event_type)
            .select(F.col("user_id").alias(f"{alias}_user"),
                    F.col("ts").alias(f"{alias}_ts"),
                    F.col("event_id").alias(f"{alias}_id"))
            .withWatermark(f"{alias}_ts", "2 hours")
        )

    joined = side("purchase", "p").join(
        side("view", "v"),
        F.expr("p_user = v_user AND "
               "v_ts BETWEEN p_ts - INTERVAL 1 HOUR AND p_ts"),
        "inner",
    )

    # append-mode parquet FILE sink — the join output streams straight
    # to storage, distributed, nothing on the driver
    out = scratch.path("out")
    _drain(joined.select("p_id", "v_id")
           .writeStream.outputMode("append")
           .format("parquet").option("path", out))
    n_stream_pairs = spark.read.parquet(out).distinct().count()

    ev_b = ev
    batch_pairs = (
        ev_b.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"),
                F.col("event_id").alias("p_id"))
        .join(
            ev_b.filter(F.col("event_type") == "view")
            .select(F.col("user_id").alias("v_user"),
                    F.col("ts").alias("v_ts"),
                    F.col("event_id").alias("v_id")),
            F.expr("p_user = v_user AND "
                   "v_ts BETWEEN p_ts - INTERVAL 1 HOUR AND p_ts"))
        .count()
    )
    return local_frame(
        spark,
        [(n_stream_pairs, batch_pairs)],
        "n_stream_pairs long, n_batch_pairs long",
    )


@register("s05_stream_stateful", oracle=None)  # rows-only: no streaming oracle
def s05_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``:
    per-user running (event count, value sum) maintained in the state
    store across micro-batches — the flatMapGroupsWithState shape for
    logic that windowed aggs can't express (counters, sessions with
    custom close rules, ML feature state).

    Each micro-batch updates its keys' state; the LAST emission per
    user is the running total after the final batch, which must equal
    the batch groupBy answer (asserted in tests/test_streaming.py).
    State is one (long, double) pair per user — bounded, and evicted
    in production by a timeout (`GroupStateTimeout` — not set here
    since AvailableNow drains a finite source). The result is
    localCheckpointed: it outlives the sink directory."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    src, ev = write_replay_source(spark, sf_dir)

    def running_totals(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            # float sum is fine: state updates are sequential per key
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame({
            "user_id": [key[0]], "n_events": [n], "total_value": [total],
        })

    stream = (
        spark.readStream.schema(ev.schema).parquet(src)
        .withWatermark("ts", "2 hours")
        .groupBy("user_id")
        .applyInPandasWithState(
            running_totals,
            outputStructType="user_id long, n_events long, total_value double",
            stateStructType="n long, total double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )

    # distributed foreachBatch sink: each micro-batch's state
    # emissions land in parquet tagged with batch_id
    out = scratch.path("out")
    _drain(stream.writeStream.outputMode("update")
           .foreachBatch(_append_batches(out)))

    # final state = each user's LAST emission (max batch_id)
    return (
        _last_batch(spark, out, "user_id")
        .select("user_id", "n_events",
                F.round("total_value", 4).alias("total_value"))
        .localCheckpoint()
    )


@register("s04_stream_dedup", oracle=None)  # rows-only: no streaming oracle
def s04_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup: every source file delivered twice;
    ``dropDuplicatesWithinWatermark`` on event_id must collapse the
    doubled delivery back to the original events. Returns
    (n_source_rows_with_dups, n_after_dedup, n_expected)."""
    src, ev = write_replay_source(spark, sf_dir, duplicate=True)
    n_expected = ev.count()
    stream = (
        spark.readStream.schema(ev.schema).parquet(src)
        .withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["event_id"])
    )

    # deduped stream appends straight to a parquet file sink
    out = scratch.path("out")
    _drain(stream.select("event_id")
           .writeStream.outputMode("append")
           .format("parquet").option("path", out))
    n_after = spark.read.parquet(out).distinct().count()

    return local_frame(
        spark,
        [(2 * n_expected, n_after, n_expected)],
        "n_delivered long, n_after_dedup long, n_expected long",
    )


@register("s07_stream_processing_time", oracle=None)  # rows-only: no oracle
def s07_stream_processing_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s03's pipeline under a ``ProcessingTime`` trigger — the
    always-on production mode (AvailableNow, used by s03-s06, is the
    drain-and-stop mode). The query fires every 500 ms against the
    same out-of-order replay source and is stopped once the source is
    drained. Final state arrives via the bounded ``memory``
    complete-mode sink, exactly like s03, and must equal the batch
    answer (tests/test_streaming.py mirrors s03's equivalence
    assertion)."""
    src, ev = write_replay_source(spark, sf_dir)
    name = scratch.table("s07_state")
    q = (
        _hourly_agg_stream(spark, src, ev.schema)
        .writeStream.outputMode("complete")
        .format("memory").queryName(name)
        .trigger(processingTime="500 milliseconds")
        .option("checkpointLocation", scratch.path("ckpt"))
        .start()
    )
    # ProcessingTime runs forever by design; the source is static
    # files written before start(), so "drained" is exactly "every
    # available input processed"
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()
    return spark.table(name)


@register("s11_stream_static_join", oracle=None)  # rows-only: no streaming oracle
def s11_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join — the dimension-lookup pattern
    every streaming pipeline runs: the purchase event stream joins
    the STATIC customer table (re-planned per micro-batch; the
    planner auto-broadcasts it when its size stats say it fits —
    no forced hint, the dim is SF-linear), then aggregates revenue
    per nation in
    ``complete`` mode to a bounded ``memory`` sink (one row per
    nation).

    Unlike the s06 stream-stream join there is no state store and no
    watermark requirement for the join itself: the static side is a
    snapshot, so each micro-batch is a plain broadcast hash join —
    at scale the static side refresh cadence (not size) is the design
    question, and the answer at 100 TB is a broadcast-able pre-agg or
    a bucketed map-side join. Batch equivalence (final state == the
    same join+agg run as one batch) is asserted in
    tests/test_streaming.py."""
    src, ev = write_replay_source(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey")
    name = scratch.table("s11_state")
    stream = (
        spark.readStream.schema(ev.schema).parquet(src)
        .filter(F.col("event_type") == "purchase")
        # customer is SF-linear — no forced hint; the per-batch
        # planner auto-broadcasts from parquet size stats when the
        # static side fits (at 100 TB: pre-agg or bucketed map join)
        .join(cust, "user_id")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum(F.col("value").cast(DEC)).cast("double")
            .alias("revenue"),
        )
    )
    _drain(stream.writeStream.outputMode("complete")
           .format("memory").queryName(name))
    return spark.table(name)


@register("s13_watermark_late_drop", oracle=None)  # rows-only: no oracle
def s13_watermark_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data DROP, observed from the engine's own
    metrics: the time-ordered replay is followed by one deliberately
    LATE file that re-delivers the 200 earliest-ts rows after the
    watermark has advanced ~25 days past them. The hourly aggregation
    runs in UPDATE mode (complete mode never drops — it keeps all
    state), one file per micro-batch so the watermark actually
    advances between deliveries; the state store rejects the late
    rows and reports them as ``numRowsDroppedByWatermark``.

    Sink is the s05 pattern: each micro-batch's UPDATED rows land in
    parquet keyed by batch_id (distributed, nothing on the driver);
    the final state is the last update per (hour, type) key. Returned
    frame = final state + the drop accounting as literal columns;
    tests/test_streaming.py asserts the drop count is exactly the
    late delivery and that the final state equals the batch answer
    over the on-time rows.

    Metric subtlety (verified live): ``numRowsDroppedByWatermark``
    ticks at the STATE-STORE input, which sits after partial
    aggregation — it counts dropped (window × type) PARTIAL rows,
    not raw events (the 200 late events arrive as their ~174
    distinct hour×type partials). The op therefore also reports the
    expected count at that same granularity
    (``late_partial_groups``). The result is localCheckpointed: it
    outlives the sink directory."""
    import time

    src, ev = write_replay_source(spark, sf_dir, time_ordered=True)
    late = ev.orderBy("ts", "event_id").limit(200)
    late_groups = (
        late.select(F.window("ts", "1 hour"), "event_type")
        .distinct().count()
    )
    late_dir = scratch.path("late")
    late.coalesce(1).write.mode("overwrite").parquet(late_dir)
    newest = max(os.path.getmtime(os.path.join(src, f))
                 for f in os.listdir(src))
    for f in os.listdir(late_dir):
        if f.endswith(".parquet"):
            dst = os.path.join(src, "z_late.parquet")
            os.link(os.path.join(late_dir, f), dst)
            # file source orders by mtime: guarantee the late file is
            # the LAST micro-batch, after every watermark advance
            os.utime(dst, (time.time() + 10, newest + 10))

    out = scratch.path("out")
    agg = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")  # one file = one batch
        .parquet(src)
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast(DEC)).cast("double")
            .alias("total_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm").alias("hour_start"),
            "event_type", "n", "total_value",
        )
    )

    q = _drain(agg.writeStream.outputMode("update")
               .foreachBatch(_append_batches(out)))
    dropped = sum(
        int(p["stateOperators"][0]["numRowsDroppedByWatermark"])
        for p in _full_progress(q, spark) if p.get("stateOperators")
    )

    return (
        _last_batch(spark, out, "hour_start", "event_type")
        .select("hour_start", "event_type", "n", "total_value")
        .withColumn("late_input_rows", F.lit(200))
        .withColumn("late_partial_groups", F.lit(late_groups))
        .withColumn("late_dropped", F.lit(dropped))
        .localCheckpoint()
    )


@register("s14_checkpoint_restart", oracle=None)  # rows-only: no oracle
def s14_checkpoint_restart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint recovery + exactly-once file-source offsets: the
    hourly aggregation runs to completion over the FIRST THREE replay
    files, stops, two more files arrive, and a NEW query object
    restarts from the SAME checkpoint. The restarted run must (a)
    restore the state store (counts from phase 1 survive the stop)
    and (b) process ONLY the two new files — the offset log makes
    re-delivery impossible. Complete-mode foreachBatch overwrites a
    parquet dir with the full current table each micro-batch, so
    after the final batch the dir IS the recovered answer.

    The returned frame is the final state plus phase-2 input-row
    accounting, localCheckpointed so it outlives the sink directory;
    tests assert phase2 rows == rows of the two late files and final
    state == the batch answer over ALL files."""
    src, ev = write_replay_source(spark, sf_dir, time_ordered=True)
    staged = sorted(
        f for f in os.listdir(src) if f.endswith(".parquet"))
    hold_back = staged[3:]  # phase 2 delivers these
    pen = scratch.path("pen")
    for f in hold_back:
        os.rename(os.path.join(src, f), os.path.join(pen, f))

    ckpt = scratch.path("ckpt")  # shared by both phases
    out = scratch.path("out")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(out)

    def run_phase() -> int:
        q = _drain(_hourly_agg_stream(spark, src, ev.schema)
                   .writeStream.outputMode("complete")
                   .foreachBatch(sink), ckpt)
        return sum(int(p["numInputRows"])
                   for p in _full_progress(q, spark))

    run_phase()
    for f in hold_back:  # the two new files arrive after the stop
        os.rename(os.path.join(pen, f), os.path.join(src, f))
    phase2_rows = run_phase()

    return (
        spark.read.parquet(out)
        .withColumn("phase2_input_rows", F.lit(phase2_rows))
        .localCheckpoint()
    )


@register("s16_stream_session_window", oracle=None)  # rows-only: no oracle
def s16_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SESSION-window aggregation — q43's gap-based
    sessionization under micro-batch execution. Session windows are
    the one stateful window type whose keys MERGE as data arrives
    (two 10-minute bursts fuse into one session when a bridging event
    shows up later), so the state store must rewrite windows, not
    just update them — `dropDuplicates`/tumbling state never
    exercises this path. Event-time-ordered replay (one file per
    micro-batch) + watermark bounds the merge state; `complete`
    output to a bounded memory sink (sessions-per-user is
    dimension-sized).

    Self-verifying like s09: the returned single row compares the
    streaming result against the SAME session_window aggregation run
    as one batch over the static frame — n_sessions must match and
    the full (user, start, end, n_events) row sets must agree
    exactly (batch-equivalence is THE correctness contract for a
    stateful streaming op; also asserted in tests/test_streaming.py).
    """
    src, ev = write_replay_source(spark, sf_dir, time_ordered=True)
    name = scratch.table("s16_state")
    _drain(
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"),
                 "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("s"),
                F.col("w.end").alias("e"), "n_events")
        .writeStream.outputMode("complete")
        .format("memory").queryName(name)
    )
    stream = spark.table(name)
    batch = (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"),
                   "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("s"),
                F.col("w.end").alias("e"), "n_events")
    )
    keys = ["user_id", "s", "e", "n_events"]
    mismatch = (stream.join(batch, keys, "full")
                .filter(stream["user_id"].isNull()
                        | batch["user_id"].isNull()))
    return (
        stream.agg(F.count(F.lit(1)).alias("n_sessions_stream"))
        .crossJoin(batch.agg(F.count(F.lit(1)).alias("n_sessions_batch")))
        .crossJoin(mismatch.agg(F.count(F.lit(1)).alias("n_row_mismatch")))
    )


@register("s17_stream_foreachbatch_merge", oracle=None)  # rows-only
def s17_stream_foreachbatch_merge(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Streaming incremental MERGE: a ``foreachBatch`` sink that
    UPSERTS each micro-batch's per-user delta into a keyed parquet
    state table — the production "stream → lakehouse table" pattern
    (with Delta/Iceberg the merge body is one ``MERGE INTO``; on
    plain parquet it is s09's read-merge-rewrite, one new version
    directory per batch).

    Idempotent replay across RESTARTS, not just in-process retries
    (ADVICE r3): the latest committed version lives in a ``_latest``
    marker file next to the version dirs — written LAST, so it is
    the commit point — recording (dir, batch_id, prev_dir). A fresh
    driver process re-reads the marker instead of starting from
    scratch, and a replayed batch_id (same batch delivered again
    after a crash between the version write and the checkpoint
    commit) detects itself in the marker and merges against
    ``prev_dir``, never double-applying its own delta.

    Differs from s05 (state-store + append sink, resolved at read
    time): here the SINK maintains the authoritative merged table,
    the shape used when downstream consumers read the table directly.
    Each batch computes a per-user delta (count, exact DECIMAL value
    sum, latest event by (ts, event_id)) and full-outer-merges it
    with the previous version: counts/sums add, the newer last-event
    struct wins via ``greatest`` on the (ts, event_id, type) struct.
    Merge math is associative over any batch partitioning of the
    stream, so the final table must equal the one-shot batch
    aggregate EXACTLY (decimal sums make that bit-exact; asserted in
    tests/test_streaming.py and by this op's returned counters).

    Scale: per batch one hash agg (delta is user-dimension-sized) +
    one keyed outer join + a table rewrite — the rewrite is the real
    cost at 100 TB and exactly what transactional formats fix;
    everything else is linear and driver-free."""
    src, ev = write_replay_source(spark, sf_dir)
    base = scratch.path("versions")
    marker_path = os.path.join(base, "_latest")
    state = {"n_batches": 0}

    def read_marker() -> dict | None:
        try:
            with open(marker_path) as fh:
                return json.load(fh)
        except OSError:
            return None

    def delta_of(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(DEC)).alias("sum_value"),
            F.max(F.struct("ts", "event_id", "event_type")).alias("last"),
        )

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        merged = delta_of(batch_df)
        committed = read_marker()
        # replay of an already-committed batch: merge against the
        # version BEFORE it, so the delta is applied exactly once
        if committed is not None and committed["batch_id"] == batch_id:
            tgt_dir = committed["prev_dir"]
        elif committed is not None:
            tgt_dir = committed["dir"]
        else:
            tgt_dir = None
        if tgt_dir is not None:
            tgt = spark.read.parquet(tgt_dir)
            d = merged
            merged = (
                tgt.alias("t").join(d.alias("d"), "user_id", "full")
                .select(
                    "user_id",
                    (F.coalesce("t.n_events", F.lit(0))
                     + F.coalesce("d.n_events", F.lit(0)))
                    .alias("n_events"),
                    (F.coalesce(F.col("t.sum_value"),
                                F.lit(0).cast(DEC))
                     + F.coalesce(F.col("d.sum_value"),
                                  F.lit(0).cast(DEC)))
                    .alias("sum_value"),
                    F.greatest("t.last", "d.last").alias("last"),
                )
            )
        new_dir = os.path.join(base, f"v{batch_id}")
        merged.write.mode("overwrite").parquet(new_dir)
        # marker write is the COMMIT POINT (atomic rename): a crash
        # before it leaves the previous marker intact and the replay
        # path above re-derives this version from prev_dir
        tmp = marker_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"dir": new_dir, "batch_id": batch_id,
                       "prev_dir": tgt_dir}, fh)
        os.replace(tmp, marker_path)
        state["n_batches"] += 1

    _drain(spark.readStream.schema(ev.schema)
           .option("maxFilesPerTrigger", "1")
           .parquet(src)
           .writeStream.foreachBatch(merge_batch))

    final = spark.read.parquet(read_marker()["dir"])
    batch_ans = delta_of(ev)
    cols = ["user_id", "n_events", "sum_value", "last"]
    only_stream = final.select(cols).exceptAll(batch_ans.select(cols))
    only_batch = batch_ans.select(cols).exceptAll(final.select(cols))
    counters = (
        final.agg(F.count(F.lit(1)).alias("n_users_merged"))
        .crossJoin(local_frame(
            spark,
            [(state["n_batches"],)], "n_batches long"))
        .crossJoin(only_stream.agg(
            F.count(F.lit(1)).alias("n_only_stream")))
        .crossJoin(only_batch.agg(
            F.count(F.lit(1)).alias("n_only_batch")))
    )
    rows = counters.collect()  # materialize before temp cleanup
    return local_frame(spark, rows, counters.schema)


@register("s19_stream_stream_left_outer", oracle=None)  # rows-only
def s19_stream_stream_left_outer(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join — the stateful
    streaming shape s06 (inner) doesn't cover: purchases join views
    per user within a trailing 1-hour event-time window, and a
    purchase with NO view in its window must still emit, null-
    extended. The subtlety is WHEN: an outer row can only be emitted
    once the watermark proves no matching view can still arrive, so
    null-extended rows materialize on state-store EVICTION — the
    cleanup path an inner join never exercises (production pipelines
    hit it as "my outer join emits nothing"/"state grows forever").

    Sentinel discipline (two subtleties found live):
    1. the watermark computed from batch N's data is only APPLIED in
       batch N+1, so ONE far-future sentinel advances the clock but no
       batch ever runs under the advanced value — the final file's
       unmatched purchases stay buffered. TWO sentinel files in two
       micro-batches: the second runs under the first's watermark and
       flushes everything.
    2. the sentinels must SURVIVE each side's event_type filter:
       Catalyst pushes a non-ts predicate BELOW the
       EventTimeWatermark operator, so a row the filter drops never
       reaches the watermark tracker at all (a 'sentinel'-typed row
       advanced nothing). Each sentinel file therefore carries one
       'purchase' and one 'view' row with impossible user ids (-1/-2,
       mutually non-joining); they flow through the join — the
       purchase ones emit null-extended — and are excluded from the
       counters by event_id < 0.

    Self-verifying counters: matched-pair count and unmatched-purchase
    count must both equal the batch LEFT JOIN under the same time
    condition (asserted here and in tests/test_streaming.py).

    Scale: state per side is bounded by (watermark delay + window) of
    data per user key, evicted continuously; output streams straight
    to a parquet file sink — nothing driver-sized anywhere."""
    src, ev = write_replay_source(spark, sf_dir, time_ordered=True)
    # far-future sentinel files (see docstring), newest mtime so the
    # file source schedules them LAST, one micro-batch each
    max_ts = ev.agg(F.max("ts").alias("m")).first()["m"]
    if max_ts is None:
        # zero-event source (an empty day, or the degenerate-corpus
        # audit): any fixed epoch works — the sentinels exist only to
        # advance the watermark past whatever data there is (none)
        from datetime import datetime as _dt
        max_ts = _dt(1992, 1, 1)
    for k in (1, 2):
        sentinel_dir = scratch.path("sentinel")
        sent_ts = max_ts + timedelta(hours=100 * k)
        (local_frame(
            spark,
            [(-(2 * k), sent_ts, -1, "purchase", 0.0),
             (-(2 * k + 1), sent_ts, -2, "view", 0.0)],
            ev.schema)
         .coalesce(1).write.mode("overwrite").parquet(sentinel_dir))
        for f in sorted(os.listdir(sentinel_dir)):
            if f.endswith(".parquet"):
                os.link(os.path.join(sentinel_dir, f),
                        os.path.join(src, f"part_9_sentinel_{k}.parquet"))

    def side(event_type: str, alias: str):
        return (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            # watermark BEFORE the type filter: the sentinel must
            # advance this side's clock, then disappear
            .withWatermark("ts", "2 hours")
            .filter(F.col("event_type") == event_type)
            .select(F.col("user_id").alias(f"{alias}_user"),
                    F.col("ts").alias(f"{alias}_ts"),
                    F.col("event_id").alias(f"{alias}_id"))
        )

    joined = side("purchase", "p").join(
        side("view", "v"),
        F.expr("p_user = v_user AND "
               "v_ts BETWEEN p_ts - INTERVAL 1 HOUR AND p_ts"),
        "left_outer",
    )
    out = scratch.path("out")
    _drain(joined.select("p_id", "v_id")
           .writeStream.outputMode("append")
           .format("parquet").option("path", out))
    got = (spark.read.parquet(out).distinct()
           .filter(F.col("p_id") >= 0))  # drop the sentinel emissions
    n_stream_matched = got.filter(F.col("v_id").isNotNull()).count()
    n_stream_unmatched = got.filter(F.col("v_id").isNull()).count()

    p = (ev.filter(F.col("event_type") == "purchase")
         .select(F.col("user_id").alias("p_user"),
                 F.col("ts").alias("p_ts"),
                 F.col("event_id").alias("p_id")))
    v = (ev.filter(F.col("event_type") == "view")
         .select(F.col("user_id").alias("v_user"),
                 F.col("ts").alias("v_ts"),
                 F.col("event_id").alias("v_id")))
    batch = p.join(
        v, F.expr("p_user = v_user AND "
                  "v_ts BETWEEN p_ts - INTERVAL 1 HOUR AND p_ts"),
        "left_outer")
    n_batch_matched = batch.filter(F.col("v_id").isNotNull()).count()
    n_batch_unmatched = batch.filter(F.col("v_id").isNull()).count()
    return local_frame(
        spark,
        [(n_stream_matched, n_batch_matched,
          n_stream_unmatched, n_batch_unmatched)],
        "n_stream_matched long, n_batch_matched long, "
        "n_stream_unmatched long, n_batch_unmatched long",
    )


class _ShimValueState:
    """API-shape-faithful stand-in for
    ``pyspark.sql.streaming.stateful_processor.ValueState``, backed by
    a plain dict slot — lets a ``StatefulProcessor`` subclass run
    UNMODIFIED over the old ``applyInPandasWithState`` runtime when
    the new API's protobuf state-server dependency is absent (s22's
    fallback lane). Same get()/exists()/update()/clear() signatures,
    same tuple-valued rows."""

    def __init__(self, store: dict, name: str):
        self._store, self._name = store, name

    def exists(self) -> bool:
        return self._name in self._store

    def get(self):
        v = self._store.get(self._name)
        return tuple(v) if v is not None else None

    def update(self, value) -> None:
        self._store[self._name] = list(value)

    def clear(self) -> None:
        self._store.pop(self._name, None)


class _ShimListState:
    """``ListState`` shim: get() iterates tuple rows, appendValue
    appends one, appendList extends — the subset the processor
    contract uses, with the real API's row-tuple shapes."""

    def __init__(self, store: dict, name: str):
        self._store, self._name = store, name

    def exists(self) -> bool:
        return bool(self._store.get(self._name))

    def get(self):
        return iter(tuple(v) for v in self._store.get(self._name, []))

    def appendValue(self, value) -> None:
        self._store.setdefault(self._name, []).append(list(value))

    def appendList(self, values) -> None:
        for v in values:
            self.appendValue(v)

    def put(self, values) -> None:
        self._store[self._name] = [list(v) for v in values]

    def clear(self) -> None:
        self._store.pop(self._name, None)


class _ShimMapState:
    """``MapState`` shim: user keys and values are row tuples exactly
    like the real API (keys() yields key tuples, getValue returns the
    value tuple); backing storage is a JSON-able list-pair dict."""

    def __init__(self, store: dict, name: str):
        self._store, self._name = store, name

    def _m(self) -> dict:
        return self._store.setdefault(self._name, {})

    def exists(self) -> bool:
        return bool(self._store.get(self._name))

    def containsKey(self, key) -> bool:
        return json.dumps(list(key)) in self._m()

    def getValue(self, key):
        return tuple(self._m()[json.dumps(list(key))])

    def updateValue(self, key, value) -> None:
        self._m()[json.dumps(list(key))] = list(value)

    def keys(self):
        return iter(tuple(json.loads(k)) for k in self._m())

    def values(self):
        return iter(tuple(v) for v in self._m().values())

    def iterator(self):
        return iter((tuple(json.loads(k)), tuple(v))
                    for k, v in self._m().items())

    def removeKey(self, key) -> None:
        self._m().pop(json.dumps(list(key)), None)

    def clear(self) -> None:
        self._store.pop(self._name, None)


class _ShimHandle:
    """``StatefulProcessorHandle`` shim over one dict (schemas are
    accepted and ignored — the old runtime serializes the dict as a
    JSON blob in its single state tuple; TTL/timers raise, they need
    the real runtime)."""

    def __init__(self, store: dict):
        self._store = store

    @staticmethod
    def _no_ttl(ttlDurationMs) -> None:
        if ttlDurationMs is not None:
            raise NotImplementedError(
                "state TTL needs the real transformWithStateInPandas "
                "runtime; the shim lane would silently never expire")

    def getValueState(self, name, schema, ttlDurationMs=None):
        self._no_ttl(ttlDurationMs)
        return _ShimValueState(self._store, name)

    def getListState(self, name, schema, ttlDurationMs=None):
        self._no_ttl(ttlDurationMs)
        return _ShimListState(self._store, name)

    def getMapState(self, name, user_key_schema, value_schema,
                    ttlDurationMs=None):
        self._no_ttl(ttlDurationMs)
        return _ShimMapState(self._store, name)


def _s22_processor():
    """The user-facing ``StatefulProcessor`` for s22 — defined once,
    run by BOTH lanes (real transformWithStateInPandas when protobuf
    exists, the shim lane otherwise): three independently-typed state
    variables per user, the capability the old single-tuple API
    lacked.

    Imported lazily: ``stateful_processor`` itself imports cleanly
    without protobuf (only the runtime's state server needs it)."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    class RunningTotals(StatefulProcessor):
        def init(self, handle) -> None:
            self.totals = handle.getValueState(
                "totals", "n long, total double")
            self.batch_sums = handle.getListState("batch_sums", "s double")
            self.type_counts = handle.getMapState(
                "type_counts", "t string", "c long")

        def handleInputRows(self, key, rows, timer_values):
            n, total = (self.totals.get() if self.totals.exists()
                        else (0, 0.0))
            batch_n, batch_sum = 0, 0.0
            for pdf in rows:
                batch_n += len(pdf)
                batch_sum += float(pdf["value"].sum())
                for t, c in pdf["event_type"].value_counts().items():
                    prev = (self.type_counts.getValue((t,))[0]
                            if self.type_counts.containsKey((t,)) else 0)
                    self.type_counts.updateValue((t,), (prev + int(c),))
            n += batch_n
            total += batch_sum
            self.totals.update((n, total))
            self.batch_sums.appendValue((batch_sum,))
            entries = [v[0] for v in self.batch_sums.get()]
            yield pd.DataFrame({
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [total],
                "n_types": [sum(1 for _ in self.type_counts.keys())],
                "n_batches": [len(entries)],
                "list_total": [float(sum(entries))],
            })

        def close(self) -> None:
            pass

    return RunningTotals()


S22_OUTPUT_SCHEMA = ("user_id long, n_events long, total_value double, "
                     "n_types long, n_batches long, list_total double")


@register("s22_stream_transform_with_state", oracle=None)  # rows-only
def s22_stream_transform_with_state(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """Spark 4 ``transformWithStateInPandas`` — the new-generation
    arbitrary-stateful API that supersedes s05's
    ``applyInPandasWithState``: a ``StatefulProcessor`` holds MULTIPLE
    independently-typed state variables per key (ValueState +
    ListState + MapState; the old API packs everything into one state
    tuple), plus timers and per-state TTL (VERDICT r4 item 6).

    Per-user state, one variable of each type:
    - ValueState ``totals``     — running (n_events, value_sum);
    - ListState  ``batch_sums`` — one subtotal appended per
      micro-batch the key appears in; its sum must rebuild the
      ValueState total (cross-variable consistency, test-asserted);
    - MapState   ``type_counts`` — event_type → count.

    Each batch emits the key's running row tagged with the
    foreachBatch ``batch_id``; the LAST emission per user must equal
    the batch groupBy answer (tests/test_streaming.py), identically
    on either lane:

    - ``transformWithState`` lane: the real API on the RocksDB
      provider (REQUIRED by it — typed variables map onto RocksDB
      column families; it's also the disk-backed store a 100 TB
      deployment runs). Its Python state server speaks protobuf to
      the JVM, and this container ships no ``google.protobuf`` (and
      no pip), so the lane is probed at import and SELF-FLIPS the
      round the wheel appears — the s01 sqlite-jdbc offline-dep
      protocol (BASELINE.md).
    - ``shim`` lane (what runs here): the SAME processor object over
      ``applyInPandasWithState``, with dict-backed shims exposing the
      exact state-variable API shapes; the three variables serialize
      as one JSON blob in the old runtime's state tuple. Proves the
      processor contract + migration path; timers/TTL stay
      real-lane-only (the shims raise nothing silently — they don't
      define those methods at all).

    Timers aren't asserted on either lane: under an AvailableNow
    drain, processing-time expiry is nondeterministic relative to the
    final batch; ``timeMode='None'`` keeps batch-equivalence exact.
    The result is localCheckpointed: it outlives the sink directory."""
    import importlib.util

    src, ev = write_replay_source(spark, sf_dir)
    try:  # find_spec raises if even the 'google' namespace is absent
        have_proto = importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:
        have_proto = False
    out = scratch.path("out")

    if have_proto:
        lane = "transformWithState"
        rocksdb = ("org.apache.spark.sql.execution.streaming.state."
                   "RocksDBStateStoreProvider")
        prov_key = "spark.sql.streaming.stateStore.providerClass"
        before = spark.conf.get(prov_key, None)
        spark.conf.set(prov_key, rocksdb)
        try:
            stream = (
                spark.readStream.schema(ev.schema)
                .option("maxFilesPerTrigger", 1)  # one replay file per micro-batch
                .parquet(src)
                .groupBy("user_id")
                .transformWithStateInPandas(
                    statefulProcessor=_s22_processor(),
                    outputStructType=S22_OUTPUT_SCHEMA,
                    outputMode="Update",
                    timeMode="None",
                )
            )
            _drain(stream.writeStream.outputMode("update")
                   .foreachBatch(_append_batches(out)))
        finally:
            if before is None:
                spark.conf.unset(prov_key)
            else:
                spark.conf.set(prov_key, before)
    else:
        lane = "shim"
        from pyspark.sql.streaming.state import (
            GroupState, GroupStateTimeout)

        def shim_handler(key, pdfs, state: GroupState):
            store = json.loads(state.get[0]) if state.exists else {}
            proc = _s22_processor()
            proc.init(_ShimHandle(store))
            emissions = list(proc.handleInputRows(key, pdfs, None))
            state.update((json.dumps(store),))
            yield from emissions

        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)  # one replay file per micro-batch
            .parquet(src)
            .groupBy("user_id")
            .applyInPandasWithState(
                shim_handler,
                outputStructType=S22_OUTPUT_SCHEMA,
                stateStructType="js string",
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            )
        )
        _drain(stream.writeStream.outputMode("update")
               .foreachBatch(_append_batches(out)))

    return (
        _last_batch(spark, out, "user_id")
        .select("user_id", "n_events",
                F.round("total_value", 4).alias("total_value"),
                "n_types", "n_batches",
                F.round("list_total", 4).alias("list_total"),
                F.lit(lane).alias("lane"))
        .localCheckpoint()
    )


def run_streaming_dedup(spark: SparkSession, sf_dir: str,
                        results_dir: str | None = None) -> DataFrame:
    """s23's engine, shared with tests/test_streaming.py: when
    ``results_dir`` is given, every micro-batch also appends its
    per-doc decisions (doc_id, batch_id, n_match_best, kept) there
    so the test can assert the q182-superset invariant doc by doc;
    the registered op itself returns only the 1-row counter frame.
    See s23's docstring for semantics."""
    return _streaming_dedup_impl(spark, sf_dir, results_dir)


@register("s23_stream_incremental_dedup", oracle=None)  # rows-only
def s23_stream_incremental_dedup(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Streaming lane of q182: each micro-batch of newly-crawled
    documents is near-dup-screened against a PERSISTED MinHash
    signature index, and survivors' signatures are APPENDED to the
    index before the next batch — so later batches dedup against
    earlier survivors too, which is the semantics of a continuously
    ingesting crawl (q182 is the one-shot screen of a single batch
    against a frozen corpus; this op closes the loop by growing the
    index as batches commit).

    Mechanics: the accepted-corpus signature index (q182's
    ``signatures_of`` over the doc_id % 10 != 0 slice) is
    materialized to parquet ONCE — at 100 TB this table already
    exists, maintained by exactly this op. The new-batch slice
    replays as one file per micro-batch (maxFilesPerTrigger=1,
    AvailableNow). ``foreachBatch`` → ``screen_and_commit``:
    signature agg over the batch docs only, band equi-join against
    the index layers committed by EARLIER batches, drop at n_match
    ≥ 8 of 16, survivors overwritten into this batch's OWN layer
    directory. The layer-per-batch layout is what makes the commit
    exactly-once: a crash-replayed batch overwrites its own layer
    and reads exactly the same earlier layers, converging to the
    identical index state (an append-based index re-appends on
    replay and then drops every doc as a dup of its own first
    attempt — s17's idempotency discipline, solved structurally
    instead of with marker files). Every step is the batch lane's
    own kernel (shared functions — one index format), per-batch
    cost is O(batch) + an index-keyed join, and nothing but scalar
    counters crosses the driver.

    Self-verification (returned 1-row frame): docs seen == kept +
    dropped == the batch slice's size; final index rows == initial
    corpus rows + kept; and a replay invariant — every doc q182's
    frozen-corpus screen drops must also be dropped here (the index
    only GROWS, so the incremental screen can only drop MORE; the
    exact superset identity is asserted doc-by-doc in
    tests/test_streaming.py)."""
    return _streaming_dedup_impl(spark, sf_dir, None)


def _replay_chunks(chunks: list[DataFrame]) -> str:
    """Write each frame of ``chunks`` as one parquet file and link the
    files, in order, into one workspace directory: read with
    ``maxFilesPerTrigger=1``, it delivers chunk i as micro-batch i."""
    src = scratch.path("src")
    n = 0
    for i, chunk in enumerate(chunks):
        cdir = scratch.path(f"chunk_{i}")
        chunk.coalesce(1).write.mode("overwrite").parquet(cdir)
        for f in sorted(os.listdir(cdir)):
            if f.endswith(".parquet"):
                os.link(os.path.join(cdir, f),
                        os.path.join(src, f"b{i}_{n}.parquet"))
                n += 1
    return src


def _sig_schema() -> str:
    from hearthstats_spark.queries.pipeline_ext3 import _MH_K

    return "id long, " + ", ".join(f"m{j} long" for j in range(_MH_K))


def _index_paths(idx_base: str, upto_batch: int) -> list[str]:
    """The committed index as of batch ``upto_batch``: the corpus
    layer plus every EARLIER batch's survivor layer. The current
    batch's own layer is never read, so (a) a replayed batch cannot
    match its own half-committed survivors and (b) the screen's
    input set is a pure function of batch_id — exactly-once without
    markers."""
    paths = [os.path.join(idx_base, "corpus")]
    for i in range(upto_batch):
        p = os.path.join(idx_base, f"batch_{i}")
        if os.path.isdir(p):
            paths.append(p)
    return paths


def screen_and_commit(spark: SparkSession, batch_df: DataFrame,
                      batch_id: int, idx_base: str,
                      results_dir: str | None,
                      retention: int | None = None) -> tuple[int, int]:
    """One micro-batch of the incremental screen: signature agg over
    the batch docs, band screen against the committed index layers,
    survivors OVERWRITTEN into this batch's own layer directory —
    ``mode("overwrite")`` + the layer-per-batch layout makes a
    crash-replay of the same batch_id converge to the identical
    index state (an append-based index would re-append on replay and
    then match the docs against their own first-attempt copies,
    n_match=16, dropping everything — pinned in
    tests/test_streaming.py). With ``retention`` set, only layers
    committed within the last ``retention`` batches are screened
    against (s26's bounded-index policy; the visible set stays a
    pure function of batch_id, so replay semantics are unchanged).
    Returns (n_seen, n_dropped)."""
    from hearthstats_spark.queries.pipeline_ext3 import (
        _DROP_AT, best_match_against_index, signatures_of,
    )

    sig = signatures_of(batch_df).cache()
    index = spark.read.schema(_sig_schema()).parquet(
        *(_index_paths(idx_base, batch_id) if retention is None
          else _index_paths_retained(idx_base, batch_id, retention)))
    # localCheckpoint: one evaluation of the band screen serves the
    # survivor write, the results write, and the counts (and stays
    # immune to any cache refresh the writes below may trigger)
    best = best_match_against_index(sig, index).localCheckpoint()
    dropped = best.filter(
        F.col("n_match_best") >= _DROP_AT).select("new_id")
    survivors = sig.join(
        dropped, sig["id"] == dropped["new_id"], "left_anti")
    survivors.write.mode("overwrite").parquet(
        os.path.join(idx_base, f"batch_{batch_id}"))
    if results_dir is not None:  # test lane: per-doc decisions
        (sig.select("id")
         .join(best, sig["id"] == best["new_id"], "left")
         .select(F.col("id").alias("doc_id"),
                 F.lit(batch_id).alias("batch_id"),
                 F.coalesce("n_match_best", F.lit(0)).cast("int")
                 .alias("n_match_best"),
                 (F.coalesce("n_match_best", F.lit(0)) < _DROP_AT)
                 .cast("int").alias("kept"))
         .write.mode("overwrite")
         .parquet(os.path.join(results_dir, f"batch_{batch_id}")))
    n_seen = sig.count()
    n_drop = dropped.count()
    sig.unpersist()
    return n_seen, n_drop


def _corpus_sig_frame(spark: SparkSession, sf_dir: str,
                      corpus_docs: DataFrame) -> DataFrame:
    """The corpus signature layer, served from the SAME content-keyed
    persisted artifact q182 reads (operators/ann_index,
    "minhash_sig_index") — built by whichever lane touches it first,
    so the streaming ops' per-run setup cost is a parquet copy of the
    standing index, not a corpus re-shingle per lane. Null-text docs
    carry no shingles, so the corpus_docs text filter is content-
    neutral and both builders produce the identical frame (pinned in
    tests/test_streaming.py)."""
    from hearthstats_spark.operators.ann_index import persisted
    from hearthstats_spark.queries.pipeline_ext3 import signatures_of

    return persisted(spark, sf_dir, "minhash_sig_index",
                     lambda: signatures_of(corpus_docs),
                     table="documents")


def screen_decisions(spark: SparkSession, batch_df: DataFrame,
                     batch_id: int, idx_base: str,
                     retention: int | None = None) -> DataFrame:
    """Pure (non-committing) screen of one batch against the
    committed layers of ``idx_base`` — the same signature/band
    kernels as ``screen_and_commit``, but nothing is written, so a
    slice can be re-screened against ANOTHER lane's index tree.
    s26 uses this for its structurally-sound monotonicity check:
    screening the same slice against a retention-window SUBSET of
    the same layers can only lose matches, a property that holds for
    any data (unlike comparing two self-committing pipelines, whose
    indexes diverge once a rescued doc is committed — ADVICE r6).
    Returns one row per batch doc: (doc_id, batch_id, n_match_best,
    kept)."""
    from hearthstats_spark.queries.pipeline_ext3 import (
        _DROP_AT, best_match_against_index, signatures_of,
    )

    sig = signatures_of(batch_df)
    index = spark.read.schema(_sig_schema()).parquet(
        *(_index_paths(idx_base, batch_id) if retention is None
          else _index_paths_retained(idx_base, batch_id, retention)))
    best = best_match_against_index(sig, index)
    return (sig.select("id")
            .join(best, sig["id"] == best["new_id"], "left")
            .select(F.col("id").alias("doc_id"),
                    F.lit(batch_id).alias("batch_id"),
                    F.coalesce("n_match_best", F.lit(0)).cast("int")
                    .alias("n_match_best"),
                    (F.coalesce("n_match_best", F.lit(0)) < _DROP_AT)
                    .cast("int").alias("kept")))


def _streaming_dedup_impl(spark: SparkSession, sf_dir: str,
                          results_dir: str | None) -> DataFrame:
    from hearthstats_spark.queries.pipeline_ext3 import (
        _BATCH_MOD, signatures_of,
    )

    d = load_table(spark, sf_dir, "documents")
    batch_docs = d.filter(
        d.text.isNotNull() & (d.doc_id % _BATCH_MOD == 0))
    corpus_docs = d.filter(
        d.text.isNotNull() & (d.doc_id % _BATCH_MOD != 0))

    idx_base = scratch.path("sig_index")
    # 1. materialize the persisted index's corpus layer (one-time
    # at test scale; the standing table of the design point)
    _corpus_sig_frame(spark, sf_dir, corpus_docs).write.mode(
        "overwrite").parquet(os.path.join(idx_base, "corpus"))
    n_index0 = spark.read.parquet(
        os.path.join(idx_base, "corpus")).count()

    # 2. the crawl replay: 5 files, one micro-batch each
    src_dir = _replay_chunks(
        [batch_docs
         .filter(F.pmod(F.col("doc_id") / _BATCH_MOD, F.lit(5)) == i)
         .select("doc_id", "text") for i in range(5)])

    counters = {"batches": 0, "seen": 0, "kept": 0, "dropped": 0}

    def screen_batch(batch_df: DataFrame, batch_id: int) -> None:
        n_seen, n_drop = screen_and_commit(
            spark, batch_df, batch_id, idx_base, results_dir)
        counters["batches"] += 1
        counters["seen"] += n_seen
        counters["dropped"] += n_drop
        counters["kept"] += n_seen - n_drop

    _drain(spark.readStream
           .schema("doc_id long, text string")
           .option("maxFilesPerTrigger", 1)
           .parquet(src_dir)
           .writeStream.outputMode("append")
           .foreachBatch(screen_batch))

    n_index1 = spark.read.schema(_sig_schema()).parquet(
        *_index_paths(idx_base, counters["batches"])).count()
    n_batch_docs = batch_docs.count()
    return local_frame(
        spark,
        [(counters["batches"], counters["seen"], counters["kept"],
          counters["dropped"], n_index0, n_index1,
          bool(counters["seen"] == n_batch_docs
               and counters["kept"] + counters["dropped"]
               == counters["seen"]
               and n_index1 == n_index0 + counters["kept"]))],
        "n_batches long, n_seen long, n_kept long, n_dropped long, "
        "index_rows_before long, index_rows_after long, "
        "consistent boolean",
    )


@register("s24_stream_ann_serving", oracle=None)  # rows-only
def s24_stream_ann_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online ANN serving on the PQ index (q183's kernels): query
    vectors arrive as a STREAM and each micro-batch is ADC-scored
    against a PRECOMPUTED code table — the vector-store serving
    pattern (train/encode offline, score online) as a Structured
    Streaming pipeline.

    Mechanics: codebook + code table are the SAME content-keyed
    persisted artifacts q183/q184/q185 read (operators/ann_index
    "pq_codebook"/"pq_codes" — built by whichever query or serving
    lane touches the corpus first), so the serving tier literally
    loads the batch engine's index: M small ints per vector instead
    of the embeddings. The query stream (vec_id < 50, replayed one
    file per micro-batch) is scored per batch by ``adc_topk``:
    per-batch distance table vs the broadcast codebook, equi-join to
    the code table, exact-decimal part sums, top-5 per query
    appended to a results sink.

    Self-verification (returned 1-row frame): because every kernel
    is deterministic and per-query independent, the UNION of the
    per-batch results must equal the ONE-SHOT batch ADC of all 50
    queries EXACTLY — (query_id, rk) → (neighbor_id, adc_d2)
    row-for-row. n_mismatches is computed distributively (full
    outer join on the key, zero tolerated); counters cross the
    driver, rows never do."""
    from hearthstats_spark.operators.ann_index import persisted
    from hearthstats_spark.queries.ann2 import (
        _trained_codebook, adc_topk, encode_against, subvectors_of,
    )

    _N_STREAM_Q = 50
    e = load_table(spark, sf_dir, "embeddings")
    sub = subvectors_of(e)
    # offline phase: the shared persisted index (see docstring)
    cb = persisted(spark, sf_dir, "pq_codebook",
                   lambda: _trained_codebook(sub)).cache()
    enc = persisted(spark, sf_dir, "pq_codes",
                    lambda: encode_against(sub, cb))

    out_dir = scratch.path("results")
    try:
        # query replay: 5 files -> 5 micro-batches
        queries = e.filter(F.col("vec_id") < _N_STREAM_Q)
        src_dir = _replay_chunks(
            [queries.filter(F.col("vec_id") % 5 == i) for i in range(5)])

        def serve_batch(batch_df: DataFrame, batch_id: int) -> None:
            (adc_topk(subvectors_of(batch_df), enc, cb,
                      max_queries=_N_STREAM_Q)
             .write.mode("overwrite")
             .parquet(os.path.join(out_dir, f"batch_{batch_id}")))

        _drain(spark.readStream
               .schema(queries.schema)
               .option("maxFilesPerTrigger", 1)
               .parquet(src_dir)
               .writeStream.outputMode("append")
               .foreachBatch(serve_batch))

        streamed = spark.read.parquet(os.path.join(out_dir, "batch_*"))
        batch_ans = adc_topk(subvectors_of(queries), enc, cb,
                             max_queries=_N_STREAM_Q)
        joined = streamed.alias("s").join(
            batch_ans.alias("b"), ["query_id", "rk"], "full")
        n_mismatch = joined.filter(
            F.col("s.neighbor_id").isNull()
            | F.col("b.neighbor_id").isNull()
            | (F.col("s.neighbor_id") != F.col("b.neighbor_id"))
            | (F.col("s.adc_d2") != F.col("b.adc_d2"))).count()
        n_stream_rows = streamed.count()
        n_batch_rows = batch_ans.count()
        n_queries = streamed.select("query_id").distinct().count()
        return local_frame(
            spark,
            [(n_queries, n_stream_rows, n_batch_rows, n_mismatch,
              bool(n_mismatch == 0 and n_stream_rows == n_batch_rows
                   and n_queries == _N_STREAM_Q))],
            "n_queries long, n_stream_rows long, n_batch_rows long, "
            "n_mismatches long, consistent boolean",
        )
    finally:
        cb.unpersist()


# ---- s25: signature-index compaction — s23's maintenance lane -----

def compact_index(spark: SparkSession, idx_base: str, n_batches: int,
                  dest_base: str) -> int:
    """Rewrite the corpus layer plus every committed batch layer into
    ONE base layer under ``dest_base`` — the LSM/Delta "major
    compaction" shape. s23's layer-per-batch layout is what makes
    commits exactly-once, but it accretes one directory per
    micro-batch: after N batches every screen re-lists and re-scans
    1 + N directories of small files. Compaction restores O(1)
    listing (and is where a production deployment would re-cluster
    or bucket the base on the band keys). ``mode("overwrite")`` into
    the versioned destination makes compaction itself
    replay-idempotent — same input layers, same base, converging on
    rerun with no marker files (s23's discipline applied to the
    maintenance job). Returns the compacted row count."""
    layers = spark.read.schema(_sig_schema()).parquet(
        *_index_paths(idx_base, n_batches))
    layers.write.mode("overwrite").parquet(
        os.path.join(dest_base, "corpus"))
    return spark.read.parquet(os.path.join(dest_base, "corpus")).count()


@register("s25_stream_index_compaction", oracle=None)  # rows-only
def s25_stream_index_compaction(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Major compaction of s23's layered signature index, with the
    two invariants that make it safe to run against a live screen:

    1. **Losslessness** — the compacted base holds exactly the union
       of the input layers (row counts equal; content equality is
       implied by 3.).
    2. **Replay idempotence** — running the compaction twice
       converges to the identical base (overwrite semantics; content
       compared both ways via exceptAll against a localCheckpoint
       snapshot, distributively — nothing but counters crosses the
       driver).
    3. **Screen equivalence** — a held-out NEXT batch screened
       against the compacted base produces the IDENTICAL per-doc
       decisions (n_match_best, kept) as against the layered index:
       the screen is a pure function of index CONTENT, so compaction
       is invisible to it. This is the property that lets the
       maintenance job run concurrently with ingestion in a
       production deployment (swap the base pointer between
       batches).

    Setup mirrors s23: corpus layer from the accepted slice, 4
    micro-batches committed layer-per-batch via ``screen_and_commit``
    (slices 0–3 of the new-batch docs), slice 4 held out as the
    next batch for the equivalence check."""
    from hearthstats_spark.queries.pipeline_ext3 import (
        _BATCH_MOD, signatures_of,
    )

    d = load_table(spark, sf_dir, "documents")
    batch_docs = d.filter(
        d.text.isNotNull() & (d.doc_id % _BATCH_MOD == 0))
    corpus_docs = d.filter(
        d.text.isNotNull() & (d.doc_id % _BATCH_MOD != 0))

    def slice_of(i: int) -> DataFrame:
        return (batch_docs
                .filter(F.pmod(F.col("doc_id") / _BATCH_MOD, F.lit(5)) == i)
                .select("doc_id", "text"))

    base = scratch.path("compaction")
    idx_base = os.path.join(base, "layered")
    dest_base = os.path.join(base, "compacted")
    res_a = os.path.join(base, "res_layered")
    res_b = os.path.join(base, "res_compacted")
    # layered index: corpus + 4 committed batch layers
    _corpus_sig_frame(spark, sf_dir, corpus_docs).write.mode(
        "overwrite").parquet(os.path.join(idx_base, "corpus"))
    for i in range(4):
        screen_and_commit(spark, slice_of(i), i, idx_base, None)
    n_layers = len(_index_paths(idx_base, 4))
    rows_layered = spark.read.schema(_sig_schema()).parquet(
        *_index_paths(idx_base, 4)).count()

    # compact, snapshot, re-compact (crash-replay of the job);
    # localCheckpoint: the snapshot must not lazily re-read the
    # directory the second compaction overwrites
    rows_out1 = compact_index(spark, idx_base, 4, dest_base)
    snap = spark.read.parquet(
        os.path.join(dest_base, "corpus")).localCheckpoint()
    rows_out2 = compact_index(spark, idx_base, 4, dest_base)
    fresh = spark.read.parquet(os.path.join(dest_base, "corpus"))
    idempotent = bool(
        rows_out1 == rows_out2
        and fresh.exceptAll(snap).count() == 0
        and snap.exceptAll(fresh).count() == 0)

    # held-out batch: identical decisions on both index layouts
    a = screen_and_commit(spark, slice_of(4), 4, idx_base, res_a)
    b = screen_and_commit(spark, slice_of(4), 0, dest_base, res_b)
    da = spark.read.parquet(os.path.join(res_a, "batch_4"))
    db = spark.read.parquet(os.path.join(res_b, "batch_0"))
    joined = (
        da.select("doc_id", F.col("n_match_best").alias("na"),
                  F.col("kept").alias("ka"))
        .join(db.select("doc_id",
                        F.col("n_match_best").alias("nb"),
                        F.col("kept").alias("kb")),
              "doc_id", "full")
    )
    n_mismatch = joined.filter(
        F.col("na").isNull() | F.col("nb").isNull()
        | (F.col("na") != F.col("nb"))
        | (F.col("ka") != F.col("kb"))).count()

    return local_frame(
        spark,
        [(n_layers, rows_layered, rows_out1, a[0], a[1], n_mismatch,
          idempotent,
          bool(rows_layered == rows_out1 and idempotent
               and n_mismatch == 0 and a == b and a[0] > 0))],
        "n_layers long, rows_layered long, rows_compacted long, "
        "n_next_docs long, n_next_dropped long, "
        "n_decision_mismatch long, idempotent boolean, "
        "consistent boolean",
    )


# ---- s26: retention-windowed screen — signatures expire ----------

def _index_paths_retained(idx_base: str, upto_batch: int,
                          retention: int) -> list[str]:
    """The committed index as of ``upto_batch`` under a retention
    policy of ``retention`` batches: a layer committed at batch i is
    visible iff ``upto_batch - i <= retention`` (the corpus layer
    counts as committed at batch -1, so it expires once
    ``upto_batch > retention - 1``). Like ``_index_paths`` the
    current batch's own layer is never read, and the visible set is
    still a pure function of batch_id — retention keeps the
    exactly-once structure while bounding index size to O(retention
    × batch) instead of O(history), which is what a 100 TB crawl
    with a "dedup against the last N days" policy actually runs."""
    paths = []
    if upto_batch - (-1) <= retention:
        paths.append(os.path.join(idx_base, "corpus"))
    for i in range(max(0, upto_batch - retention), upto_batch):
        p = os.path.join(idx_base, f"batch_{i}")
        if os.path.isdir(p):
            paths.append(p)
    return paths


@register("s26_stream_index_retention", oracle=None)  # rows-only
def s26_stream_index_retention(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """s23's incremental screen under a RETENTION window: index
    layers expire after ``W`` batches, so a new document is dropped
    only if it near-duplicates something seen in the last W batches
    — the "dedup against the last N days of crawl" policy every
    bounded-storage production pipeline ends up with (unbounded
    index growth is s23's one open scale cost; s25 compacts it, this
    op CAPS it).

    Runs the SAME 5 micro-batch slices through both policies
    (unlimited vs W = 2) on separate index trees and verifies the
    defining properties distributively, per doc.

    Soundness (ADVICE r6): monotonicity is NOT checked between the
    two self-committing pipelines — the ttl lane commits rescued
    docs into its own layers, so a later in-window doc can
    legitimately match a rescued survivor more strongly than
    anything the full lane's index holds (nm_ttl > nm_full, or
    kept_full=1/kept_ttl=0, from a perfectly correct pipeline; it
    only never fired here because the shipped corpus has no such
    cross-batch near-dup chain). The monotone comparison is instead
    a third, non-committing screen of each slice against the
    retention-window SUBSET of the FULL lane's own layers
    (``screen_decisions``): same layers, fewer of them, so losing
    matches is structural for ANY data.

    1. **Monotonicity (window-of-full vs full)** — screening against
       a subset of the same committed layers can only LOSE matches
       (n_match_best ≤; kept-set is a superset). Violations must
       be 0 — this now holds by construction, not by luck of the
       testdata.
    2. **Expiry fires** — some docs dropped by the full screen are
       RESCUED under the windowed view (their only match lived in
       an expired layer — here, the corpus once upto_batch > W-1).
       Count must be > 0, or the window never excluded anything.
    3. **Early-batch identity (ttl pipeline vs full pipeline)** —
       while every layer is younger than W (batches 0..W-1 with the
       corpus still visible), the two pipelines see identical
       indexes and must produce identical per-doc decisions.
       Mismatch count must be 0.
    4. **ttl divergence (informational, unconstrained)** — docs where
       the self-committing ttl pipeline differs from the
       window-of-full screen; nonzero is legitimate (a match chain
       through a rescued-and-committed survivor), surfaced so a
       testdata regeneration that exercises the chain is visible
       rather than a silent invariant change.

    Nothing but scalar counters crosses the driver."""
    from hearthstats_spark.queries.pipeline_ext3 import (
        _BATCH_MOD, signatures_of,
    )

    _W = 2
    d = load_table(spark, sf_dir, "documents")
    batch_docs = d.filter(
        d.text.isNotNull() & (d.doc_id % _BATCH_MOD == 0))
    corpus_docs = d.filter(
        d.text.isNotNull() & (d.doc_id % _BATCH_MOD != 0))

    def slice_of(i: int) -> DataFrame:
        return (batch_docs
                .filter(F.pmod(F.col("doc_id") / _BATCH_MOD, F.lit(5)) == i)
                .select("doc_id", "text"))

    base = scratch.path("retention")
    lanes = {}
    for lane, retention in (("full", None), ("ttl", _W)):
        idx = os.path.join(base, f"idx_{lane}")
        res = os.path.join(base, f"res_{lane}")
        _corpus_sig_frame(spark, sf_dir, corpus_docs).write.mode(
            "overwrite").parquet(os.path.join(idx, "corpus"))
        for i in range(5):
            screen_and_commit(spark, slice_of(i), i, idx, res,
                              retention=retention)
        lanes[lane] = spark.read.parquet(
            *[os.path.join(res, f"batch_{i}") for i in range(5)])

    # third lane: window-of-full — re-screen every slice against
    # the retention-window subset of the FULL lane's committed
    # layers (no commits, so subset-of-same-layers is guaranteed)
    idx_full = os.path.join(base, "idx_full")
    wof = screen_decisions(spark, slice_of(0), 0, idx_full,
                           retention=_W)
    for i in range(1, 5):
        wof = wof.unionByName(screen_decisions(
            spark, slice_of(i), i, idx_full, retention=_W))

    joined = (
        lanes["full"].select("doc_id", "batch_id",
                             F.col("n_match_best").alias("nm_full"),
                             F.col("kept").alias("kept_full"))
        .join(lanes["ttl"].select(
            "doc_id", F.col("n_match_best").alias("nm_ttl"),
            F.col("kept").alias("kept_ttl")), "doc_id")
        .join(wof.select(
            "doc_id", F.col("n_match_best").alias("nm_wof"),
            F.col("kept").alias("kept_wof")), "doc_id")
        .localCheckpoint()
    )
    n_docs = joined.count()
    # 1. monotonicity (structural): the windowed view of full's
    #    layers never matches MORE, never drops a doc full kept
    n_mono_viol = joined.filter(
        (F.col("nm_wof") > F.col("nm_full"))
        | ((F.col("kept_full") == 1) & (F.col("kept_wof") == 0))
    ).count()
    # 2. expiry rescues: dropped under full, kept in the window
    n_rescued = joined.filter(
        (F.col("kept_full") == 0) & (F.col("kept_wof") == 1)).count()
    # 3. early batches identical while nothing has expired
    #    (real ttl pipeline vs real full pipeline)
    n_early_mismatch = joined.filter(
        (F.col("batch_id") < _W)
        & ((F.col("nm_full") != F.col("nm_ttl"))
           | (F.col("kept_full") != F.col("kept_ttl")))).count()
    # 4. informational: where the self-committing ttl pipeline
    #    diverges from the window-of-full screen (legitimate —
    #    match chains through rescued survivors)
    n_ttl_div = joined.filter(
        (F.col("nm_ttl") != F.col("nm_wof"))
        | (F.col("kept_ttl") != F.col("kept_wof"))).count()

    return local_frame(
        spark,
        [(_W, n_docs, n_mono_viol, n_rescued, n_early_mismatch,
          n_ttl_div,
          bool(n_docs > 0 and n_mono_viol == 0 and n_rescued > 0
               and n_early_mismatch == 0))],
        "retention long, n_docs long, n_monotonicity_violations "
        "long, n_rescued_by_expiry long, n_early_mismatch long, "
        "n_ttl_wof_divergence long, consistent boolean",
    )


# ---- s27: streaming vocabulary maintenance (tokenizer stats) ------

@register("s27_stream_vocab_maintenance", oracle=None)  # rows-only
def s27_stream_vocab_maintenance(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Streaming maintenance of the tokenizer word-frequency table
    (q188's vocabulary): documents arrive in micro-batches, an
    update-mode streaming aggregation keeps the RUNNING per-word
    count in state, and a ``foreachBatch`` sink commits each batch's
    updated rows to a layer-per-batch parquet directory (s23's
    exactly-once overwrite protocol — a replayed batch rewrites its
    own layer and converges to the identical store).

    Why this is the 100 TB shape: word counts are additive, so the
    corpus-scale work per batch is ONE map-side-combinable agg over
    the batch (plus state lookups on the updated keys only), and the
    committed store carries cumulative counts — the downstream BPE
    iteration (vocab-sized, q190) can run against the store at ANY
    batch boundary without touching the corpus again. That is what
    "retrain the tokenizer nightly on a growing crawl" actually runs.

    Self-verifying, all distributive:
    1. **Batch equivalence** — the reconstructed store (latest layer
       per word via ONE max_by(batch_id) hash agg — q181's CDC
       compaction) must equal ``word_freqs`` over the full corpus
       EXACTLY (exceptAll both ways == 0).
    2. **Monotone growth** — every layer's cumulative count for a
       word ≥ any earlier layer's (violations counted distributively
       via a self-join on word across adjacent layers; must be 0).
    3. **Head agreement** — q188's top merge candidate computed from
       the maintained store equals the batch-computed one (the
       consumer a tokenizer trainer actually is)."""
    from hearthstats_spark.queries.tokenizer import pair_counts, word_freqs

    docs = (load_table(spark, sf_dir, "documents")
            .filter(F.col("text").isNotNull())
            .select("doc_id", "text"))
    base = scratch.path("vocab")
    src = os.path.join(base, "src")
    store = os.path.join(base, "store")
    n_slices = 3
    for i in range(n_slices):
        (docs.filter(F.col("doc_id") % n_slices == i)
         .coalesce(1).write.mode("append").parquet(src))
    seen = {"batches": 0}

    def commit_layer(batch_df: DataFrame, batch_id: int) -> None:
        seen["batches"] += 1
        (batch_df.withColumn("batch_id", F.lit(batch_id))
         .write.mode("overwrite")
         .parquet(os.path.join(store, f"layer_{batch_id}")))

    _drain(spark.readStream.schema(docs.schema)
           .option("maxFilesPerTrigger", "1").parquet(src)
           .select(F.explode(F.split("text", r"\s+")).alias("word"))
           .filter(F.length("word") >= 2)
           .groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
           .writeStream.outputMode("update")
           .foreachBatch(commit_layer))

    layers = spark.read.parquet(
        *[os.path.join(store, f"layer_{i}")
          for i in range(seen["batches"])]).localCheckpoint()
    vocab_stream = layers.groupBy("word").agg(
        F.max_by("freq", "batch_id").alias("freq"))
    vocab_batch = word_freqs(
        load_table(spark, sf_dir, "documents")).localCheckpoint()
    n_mismatch = (vocab_stream.exceptAll(vocab_batch).count()
                  + vocab_batch.exceptAll(vocab_stream).count())
    mono = (
        layers.alias("a")
        .join(layers.alias("b"),
              (F.col("a.word") == F.col("b.word"))
              & (F.col("a.batch_id") < F.col("b.batch_id")))
        .filter(F.col("a.freq") > F.col("b.freq"))
    )
    n_mono_viol = mono.count()

    def head_of(vocab: DataFrame):
        return pair_counts(vocab).agg(
            F.min_by("pair", F.struct(
                (-F.col("pair_count")).alias("n"),
                F.col("pair"))).alias("bp")).collect()[0]["bp"]

    head_match = head_of(vocab_stream) == head_of(vocab_batch)
    n_words = vocab_stream.count()
    return local_frame(
        spark,
        [(seen["batches"], n_words, n_mismatch, n_mono_viol,
          bool(head_match),
          bool(seen["batches"] == n_slices and n_words > 0
               and n_mismatch == 0 and n_mono_viol == 0
               and head_match))],
        "n_batches long, n_words long, n_vocab_mismatch long, "
        "n_monotonicity_violations long, head_match boolean, "
        "consistent boolean",
    )
