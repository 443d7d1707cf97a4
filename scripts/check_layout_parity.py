#!/usr/bin/env python
"""100 TB layout rehearsal (VERDICT r8 item 2): run the WHOLE
oracle-checked registry against a cluster-layout copy of an sf dir —
facts date-partitioned (events by day, the partition-prunable shape)
and the join-heavy fact pair bucketed by orderkey (orders+lineitem as
catalog tables, the zero-exchange SMJ shape) — and assert

  (a) hash-parity: every query's answer on the layout copy is
      bit-identical (the oracle harness's own canon_rows compare) to
      its answer on the flat corpus — layout is a physical concern
      and must never change an answer;
  (b) plan evidence: a registry query that joins orders⋈lineitem
      reads SelectedBucketsCount from the bucketed tables (real
      query, not a probe), and a direct probe on the partitioned
      events copy shows PartitionFilters + dynamic partition pruning
      (registry queries filter raw ts, which plain parquet cannot
      map to directory keys — a deployment adds the p_day predicate
      or uses row-group skipping, s18 — so the probe is the honest
      form of this assertion).

The layout copy lives under .layout_cache/ (gitignored) and is
rebuilt when absent or --rebuild is passed. Bucketed tables are
(re)created in this script's session (the in-memory catalog does not
persist across sessions; the parquet payload under spark-warehouse/
is overwritten each run).

    python scripts/check_layout_parity.py                # sf0.1
    python scripts/check_layout_parity.py --sf /root/testdata/sf0.01
    python scripts/check_layout_parity.py --only q05,q15 --rebuild
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

#: tables served from bucketed catalog tables (name -> bucket key);
#: the join-heavy fact pair — two tables bucketed the same way
#: sort-merge-join with zero exchange.
BUCKETED = {"orders": "o_orderkey", "lineitem": "l_orderkey"}
N_BUCKETS = 8

#: facts date-partitioned by a derived day/month directory key
PARTITIONED = {"events": ("ts", "day")}


def src_fingerprint(src_sf: str) -> str:
    """Fingerprint of a source sf dir: sha256 over the artifact
    store's per-file (relpath, size, mtime_ns) tokens
    (``ann_index.source_fingerprint``, walked in sorted order).
    Recorded in the layout manifest so a regenerated testdata corpus
    triggers an automatic cache rebuild instead of a spurious parity
    failure against stale layout data (ADVICE r9 item 4). mtime
    inclusion errs toward rebuilding too often — the fail-safe
    direction."""
    import hashlib

    from hearthstats_spark.operators.ann_index import source_fingerprint

    return hashlib.sha256(source_fingerprint(src_sf).encode()).hexdigest()


def build_layout(spark, src_sf: str, dst: str) -> None:
    from hearthstats_spark.io import TABLES, load_table
    from hearthstats_spark.sources.layout import write_time_partitioned

    os.makedirs(dst, exist_ok=True)
    manifest: dict = {"bucketed": {}, "src": src_sf,
                      "src_fingerprint": src_fingerprint(src_sf)}
    for name in TABLES:
        df = load_table(spark, src_sf, name)
        if name in BUCKETED:
            # catalog payload is session-written below; nothing on
            # the sf path — the manifest routes load_table
            manifest["bucketed"][name] = f"layout_{name}_b"
            continue
        out = os.path.join(dst, f"{name}.parquet")
        if name in PARTITIONED:
            ts_col, gran = PARTITIONED[name]
            write_time_partitioned(df, out, ts_col, gran)
        else:
            # flat copy via Spark keeps the normalized schema the
            # engine sees (events.ts µs) without hand-copying bytes
            df.write.mode("overwrite").parquet(out)
    with open(os.path.join(dst, "_layout.json"), "w") as fh:
        json.dump(manifest, fh, indent=1)


def create_bucketed_tables(spark, src_sf: str) -> None:
    from hearthstats_spark.io import load_table
    from hearthstats_spark.sources.layout import write_bucketed

    warehouse = os.path.join(REPO, "spark-warehouse")
    for name, key in BUCKETED.items():
        tbl = f"layout_{name}_b"
        # the in-memory catalog forgets tables between sessions but
        # their warehouse payload persists — clear both or
        # saveAsTable raises LOCATION_ALREADY_EXISTS
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        leftover = os.path.join(warehouse, tbl)
        if os.path.exists(leftover):
            shutil.rmtree(leftover)
        df = load_table(spark, src_sf, name)
        write_bucketed(df, tbl, [key], N_BUCKETS, sort_cols=[key])


def assert_plan_evidence(spark, layout_sf: str) -> list[str]:
    """Returns a list of evidence strings (raises AssertionError on a
    missing shape)."""
    from pyspark.sql import functions as F

    from hearthstats_spark.plans import explain_str
    from hearthstats_spark.queries.registry import REGISTRY

    ev: list[str] = []

    # (1) REAL registry query on the bucketed pair: q123 (this
    # round's pre-agg rewrite) aggregates lineitem BY THE BUCKET KEY
    # then joins orders ON THE BUCKET KEY — on the bucketed layout,
    # with the broadcast lane off (the 100 TB regime, where no fact
    # side fits in memory), BOTH the pre-agg and the join must be
    # satisfied by the bucketing: bucket-local scans on both tables
    # and ZERO orderkey-level Exchange anywhere in the plan. This is
    # exactly the sf0.01 gate note closing at the layout level: the
    # one extra map-side-combined Exchange the rewrite costs on the
    # flat broadcast regime is free once the layout pays the shuffle
    # at write time.
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p = explain_str(REGISTRY["q123_mom_growth"].fn(spark, layout_sf))
        hits = len(re.findall(
            rf"SelectedBucketsCount: {N_BUCKETS} out of {N_BUCKETS}", p))
        assert hits >= 2, f"q123 bucketed reads: want 2 sides, got {hits}"
        for key in ("l_orderkey", "o_orderkey"):
            assert f"hashpartitioning({key}" not in p, \
                f"q123 still exchanges on {key} despite buckets"
        n_ex = len(re.findall(r"\(\d+\) Exchange\b", p))
        ev.append(f"q123_mom_growth on layout: {hits} bucketed scans "
                  f"(SelectedBucketsCount {N_BUCKETS}/{N_BUCKETS}), "
                  f"no orderkey Exchange, {n_ex} Exchange nodes total")
    finally:
        # restore the SAVED value, not a constant — the parity
        # queries after this probe must run under the same broadcast
        # regime as the flat baseline (test_plan_audit.py pattern)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)

    # (2) partition pruning probe on the partitioned events copy:
    # a p_day predicate must reach PartitionFilters (plan-time dir
    # pruning), and a dim join on p_day must attach dynamicpruning.
    path = os.path.join(layout_sf, "events.parquet")
    raw = spark.read.parquet(path)
    one_day = raw.select("p_day").limit(1).collect()[0][0]
    probe = raw.filter(F.col("p_day") == one_day)
    p = explain_str(probe)
    assert "PartitionFilters" in p and "p_day" in p, "no PartitionFilters"
    ev.append(f"events probe: PartitionFilters on p_day == {one_day!r}")

    # dim-filtered star-join shape (the test_layout.py DPP shape):
    # a month's worth of day keys DERIVED from a separate scan of the
    # flat corpus with a selective filter — plan-time pruning cannot
    # see through the derivation, so the fact scan must attach a
    # dynamicpruning subquery
    from hearthstats_spark.io import load_table

    flat_sf = json.load(
        open(os.path.join(layout_sf, "_layout.json")))["src"]
    month = str(one_day)[:7]
    dim = (load_table(spark, flat_sf, "events")
           .select(F.date_format(F.date_trunc("day", "ts"),
                                 "yyyy-MM-dd").alias("p_day"))
           .distinct().filter(F.col("p_day").startswith(month)))
    j = raw.join(dim, "p_day")
    assert "dynamicpruning" in explain_str(j).lower(), "no DPP"
    ev.append(f"events probe: dynamicpruning subquery on fact scan "
              f"(dim month {month})")
    return ev


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--only", default=None)
    ap.add_argument("--rebuild", action="store_true")
    args = ap.parse_args()

    # hermetic: the persisted-artifact store must not serve one
    # layout's artifacts to the other run
    os.environ["SPARK_GRAFT_ANN_CACHE"] = "0"

    from hearthstats_spark.oracle import compare
    from hearthstats_spark.operators.bounded import release_guard_caches
    from hearthstats_spark.queries.registry import load_all
    from hearthstats_spark.session import get_spark

    reg = load_all()
    only = set(args.only.split(",")) if args.only else None
    spark = get_spark("layout-parity")
    spark.sparkContext.setLogLevel("ERROR")

    tag = os.path.basename(args.sf.rstrip("/"))
    layout_sf = os.path.join(REPO, ".layout_cache", tag)
    if args.rebuild and os.path.exists(layout_sf):
        shutil.rmtree(layout_sf)
    man_path = os.path.join(layout_sf, "_layout.json")
    if os.path.exists(man_path):
        # stale-cache guard (ADVICE r9 item 4): a regenerated source
        # corpus no longer matches the fingerprint recorded at build
        # time — rebuild instead of comparing fresh flat results
        # against stale layout data
        recorded = json.load(open(man_path)).get("src_fingerprint")
        if recorded != src_fingerprint(args.sf):
            print(f"source {args.sf} changed since layout build — "
                  f"rebuilding {layout_sf}", flush=True)
            shutil.rmtree(layout_sf)
    if not os.path.exists(man_path):
        print(f"building layout copy at {layout_sf} ...", flush=True)
        build_layout(spark, args.sf, layout_sf)
    # bucketed tables are per-session state: always (re)create
    create_bucketed_tables(spark, args.sf)

    for line in assert_plan_evidence(spark, layout_sf):
        print(f"[plan] {line}")

    n_fail = 0
    n_ok = 0
    for name, q in sorted(reg.items()):
        if q.oracle is None:
            continue  # rows-only ops: no deterministic hash contract
        if only and not any(name.startswith(o) for o in only):
            continue
        t0 = time.time()
        try:
            flat = q.fn(spark, args.sf).toPandas()
            lay = q.fn(spark, layout_sf).toPandas()
        except Exception as e:
            n_fail += 1
            print(f"[FAIL] {name}: {type(e).__name__}: {str(e)[:300]}")
            continue
        res = compare(name, flat, lay)
        if res.ok:
            n_ok += 1
            print(f"[OK ] {name}: {res.n_spark} rows ({time.time()-t0:.1f}s)")
        else:
            n_fail += 1
            print(f"[FAIL] {name}: {res}")
        release_guard_caches()
    print(f"\nlayout parity: {n_ok} ok, {n_fail} failures")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
