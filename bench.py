"""Host helpers the benchmark (``perfbench/``) imports.

``steal_probe`` times a fixed numpy workload; ``perfbench/run.py``
records it before and after each run as its CPU-steal context line.
``_drop_blocks`` frees cached and checkpointed blocks between
passes (``perfbench/client.py``). Run the benchmark with
``python3 perfbench/run.py --workload olap_mix --seed 1 --seconds 14
--trace 0``.
"""

from __future__ import annotations

import time


def steal_probe(n_runs: int = 3) -> list[float]:
    """Time a fixed 16M-element numpy alloc+reduce ``n_runs`` times —
    the ROUND8 CPU-steal probe, now recorded IN the bench report.

    Why the canary is not enough (round 11, measured): hypervisor
    CPU-stealing hits sustained 32-thread shuffle work far harder
    than the short latency-bound canary queries — a steal window
    that inflated q98 3.3× and q08 7× moved canary_factor only
    1.125→1.142, while this probe swung 0.14 s ↔ 10.9 s on
    back-to-back runs. A bench row whose SUSTAINED number
    (:func:`steal_sustained`) is ≫ :data:`STEAL_PROBE_QUIET_S` was
    taken in a degraded window and its absolute shuffle-heavy
    timings overstate regressions (the round-8 precedent: compare
    ratios, or re-measure).

    Reading the triplet (round 11, measured): run 0 after an idle
    gap carries an idle→busy transition penalty (hypervisor page
    reclaim — 3-25 s observed while runs 1+ sat at 0.12-0.17 s) even
    when sustained throughput is at full speed; TRUE steal degrades
    the later runs too (round 8 regime: 10.9/0.18/4.2 back-to-back).
    So gate on :func:`steal_sustained` (median of runs[1:]) and read
    the max as the worst-case transition indicator."""
    import numpy as np

    out = []
    for _ in range(n_runs):
        t0 = time.perf_counter()
        a = np.random.default_rng(0).random(16_000_000)
        float((a * 2.0).sum())
        out.append(round(time.perf_counter() - t0, 3))
    return out


def _drop_blocks(spark) -> None:
    """Free every cached/checkpointed block between timed runs —
    and make the cleanup finish BEFORE the next timing starts.

    ``clearCache()`` only drops catalog-tracked cached PLANS;
    ``localCheckpoint()`` blocks (the graph/dedup queries cut lineage
    with them) linger until the JVM ContextCleaner happens to run,
    so 250+ timed runs accumulate storage memory and bleed
    GC-pressure noise into later queries' timings.

    The non-obvious part (measured): ``unpersist()`` defaults to
    blocking=false and the ContextCleaner deletes shuffle files only
    after the JVM GC collects their weak refs — both race the NEXT
    timed query. With 272 executions in one JVM the contention is
    worth 30-70%% on the checkpoint-heavy queries (q108 cold read
    18.8 s interleaved vs 13.4 s isolated; its WARM run read slower
    than cold). Blocking unpersist + forced py/JVM GC + a short
    settle moves that work outside the timed regions."""
    import gc
    import time as _time

    # drop the guard-applied cached frames' python handles first so
    # their blocks are not resurrected by a later lineage read
    # (ADVICE r7: applied broadcast_bounded sites defer their
    # unpersist to the sweep boundary — this is that boundary)
    from hearthstats_spark.operators.bounded import release_guard_caches
    release_guard_caches()

    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc
    for rdd in jsc.getPersistentRDDs().values():
        rdd.unpersist(True)
    gc.collect()  # release Python-side plan refs -> JVM weak refs
    spark.sparkContext._jvm.System.gc()  # ContextCleaner runs now
    _time.sleep(0.3)  # async deletions settle outside the next timing
