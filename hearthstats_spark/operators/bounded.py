"""Runtime size-guarded broadcast hint (VERDICT r5 item 4).

``FORCED_BROADCAST_OK`` (tests/test_plan_audit.py) used to carry
entries whose "this frame stays small at 100 TB" argument was
narrative — e.g. q91's eval-shingle set, which at the TEST scale is
doc_id % 97 of the corpus and therefore SF-LINEAR even though the
design-point workload (a fixed benchmark suite) is bounded.
``broadcast_bounded`` replaces narration with enforcement: the hint
is applied only after a cheap limit-probe proves the frame currently
holds at most ``max_rows`` rows; anything larger is returned
UNHINTED so Catalyst/AQE plan a regular shuffle join. The same
query therefore degrades gracefully from "map-side hash join" to
"shuffle join" as the data grows past the cap — no OOM cliff.

The probe is ``df.limit(max_rows + 1).count()`` — it never ships
more than cap+1 rows, mirroring operators/similarity.py's
``max_broadcast_rows`` guard (the established fast-path pattern).
Single-execution discipline (VERDICT r6 item 3 / ADVICE r6): the
probe used to run the frame's plan at query-BUILD time and the join
then recomputed it — every adopter paid its agg subplan twice. Now
the default-probe path ``.cache()``s the frame first, so the probe
populates the cache and the join reads it back. Cache, not
localCheckpoint, on purpose: caching is lazy and partition-grained,
so a frame that turns out to be huge materializes at most the
probe's cap+1 rows before the guard declines and unpersists — an
eager checkpoint of an unbounded frame would be the OOM the guard
exists to prevent. Frames the caller already persisted (the ann2/3
codebooks, q192's localCheckpoint) are left untouched.

Machine verification: each call appends ``(max_rows, applied)`` to
``GUARDED_SITES`` while the query builds, and
``test_no_forced_broadcast_of_fact_frames`` counts only the APPLIED
sites recorded during a query's build into that query's allowance
(ADVICE r6: a declined guard must not credit allowance for a bare
``F.broadcast`` added elsewhere in the same query) — a forced
fact-frame broadcast is legal ONLY if it is either statically
bounded in the plan text (keyless agg / limit) or went through this
guard and passed. The static allowlist keeps only entries whose
bound is visible by construction (constant probe filters, sketch
geometry).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

#: ``(max_rows, applied)`` of every broadcast_bounded call, in build
#: order; the plan audit snapshots this around each query build and
#: credits only applied sites (never cleared — consumers diff
#: lengths).
GUARDED_SITES: list[tuple[int, bool]] = []

#: frames the default-probe path cached with the guard APPLIED
#: (ADVICE r7): each is ≤ its site's max_rows so residency is
#: bounded, but a full sweep would otherwise accumulate one small
#: cached frame per applied site until LRU eviction. Sweep drivers
#: (``oracle.check_op``, ``bench._drop_blocks``) release them between
#: queries via :func:`release_guard_caches`.
_APPLIED_CACHES: list[DataFrame] = []


def release_guard_caches() -> int:
    """Unpersist every frame the applied path cached; returns the
    count released. Safe at any query boundary: unpersist is
    idempotent and a re-run rebuilds the frame from lineage (and
    re-caches it through the guard again)."""
    n = 0
    while _APPLIED_CACHES:
        df = _APPLIED_CACHES.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass  # session already stopped — nothing to release
    return n


def broadcast_bounded(df: DataFrame, max_rows: int,
                      probe: DataFrame | None = None,
                      per_probe_row: int = 1) -> DataFrame:
    """``F.broadcast(df)`` iff df provably holds ≤ max_rows rows
    right now; otherwise df unhinted, leaving the join strategy to
    Catalyst/AQE's size statistics.

    Default probe is df itself (limit-probe count over the cached
    frame, so the probe's evaluation is the ONLY one — the join
    reads the cache). When df is expensive to evaluate but
    STRUCTURALLY bounded by a cheaper frame — q56's rank-filtered
    marker table is ≤ 10 rows per language — pass that frame as
    ``probe`` with ``per_probe_row`` the static multiplier: df ≤
    |probe| · per_probe_row, and only the cheap frame is counted
    (at 100 TB the difference is a column-pruned enum scan vs
    re-running a token aggregation); df is then NOT cached because
    it is never evaluated here."""
    cached_here = False
    if probe is None and not df.is_cached:
        df = df.cache()
        cached_here = True
    src = df if probe is None else probe
    budget = max_rows // per_probe_row
    n = src.limit(budget + 1).count()
    applied = n * per_probe_row <= max_rows
    GUARDED_SITES.append((max_rows, applied))
    if not applied and cached_here:
        # decline path: drop the ≤ cap+1 rows the probe materialized —
        # a huge frame must not squat in the storage pool while the
        # shuffle join recomputes it stream-wise.
        df.unpersist()
    elif applied and cached_here:
        # applied path: the cache must OUTLIVE this call (the join
        # reads it when the query finally runs), so release is
        # deferred to the sweep boundary (release_guard_caches)
        _APPLIED_CACHES.append(df)
    return F.broadcast(df) if applied else df
