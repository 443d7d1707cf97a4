#!/usr/bin/env python
"""Dev loop: run declared queries against the DuckDB oracle.

Usage:
    python scripts/check_oracle.py [--sf /root/testdata/sf0.01]
        [--modules joins,aggregates] [--only q05,q06]

The sweep runs at ``get_spark``'s shuffle partitions, one per core
(``defaultParallelism``); ``tests/test_oracle_sweep.py`` runs the
same check at the test suite's 4. ``SPARK_GRAFT_CPUS=32`` runs the
sweep on ``local[32]`` (32 threads), which reproduces the
32-partition leg on any host. Every leg must be hash-identical to
DuckDB — the partition-count-independence property SCALE.md
§Session & runtime records.

Triage notes for specific failures (ADVICE r10):

- **q49_dedup_near failing right after a documents-corpus
  regeneration**: before treating it as an engine regression, check
  whether a threshold-boundary pair (exact Jaccard just above 0.69)
  missed all 8 LSH bands — legitimate banding probability (P ≈ 7e-5
  per boundary pair), not a bug; the fix is widening n_bands, not
  touching the join. Deterministic on the SHIPPED corpora (swept
  green), so this can only appear with regenerated data.
- **q49/q163 mismatches on a LONG document corpus**: both oracles
  enumerate positions via generate_series(0|1, 4096); documents
  over ~4096 words (or tokens over 4096 chars) silently lose
  shingles/pairs on the ORACLE side only.
  tests/test_operators.py::test_corpus_within_oracle_series_bounds
  pins the corpus contract at both driver SFs.
"""

from __future__ import annotations

import argparse
import importlib
import sys
import time

sys.path.insert(0, ".")

from hearthstats_spark.oracle import check_op, duck_connect  # noqa: E402
from hearthstats_spark.queries.registry import REGISTRY  # noqa: E402
from hearthstats_spark.session import get_spark  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--modules", default=None,
                    help="comma list of hearthstats_spark.queries submodules; "
                         "default: registry.load_all()")
    ap.add_argument("--only", default=None, help="comma list of query ids")
    args = ap.parse_args()

    if args.modules:
        for m in args.modules.split(","):
            importlib.import_module(f"hearthstats_spark.queries.{m.strip()}")
    else:
        from hearthstats_spark.queries.registry import load_all
        load_all()

    only = set(args.only.split(",")) if args.only else None
    spark = get_spark("oracle-check")
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_connect(args.sf)

    n_fail = 0
    for name, q in sorted(REGISTRY.items()):
        if only and not any(name.startswith(o) for o in only):
            continue
        t0 = time.time()
        try:
            res = check_op(spark, con, args.sf, q)
        except Exception as e:
            n_fail += 1
            print(f"[FAIL] {name}: {type(e).__name__}: {str(e)[:500]}")
            continue
        print(f"{res} ({time.time()-t0:.1f}s)")
        if not res.ok:
            n_fail += 1
    print(f"\n{'ALL GREEN' if n_fail == 0 else f'{n_fail} FAILURES'}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
