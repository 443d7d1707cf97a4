"""Similarity-search operators as a reusable library (q50/q51/q61
are the declared query forms).

Three tiers, by data size:

- ``chunked_topk_pairs`` — exact global top-k pairs via block
  all-pairs: ids hash into B chunks, every chunk PAIR becomes one
  ``applyInPandas`` task running one numpy matmul. Shuffle is
  O(n·B) (each row ships to B+1 tasks), never the O(n²) pair space;
  no driver collect anywhere in the plan. The declared q50 path.
- ``brute_force_topk_pairs`` — broadcast reference matrix + numpy
  kernel per Arrow batch; exact and fastest when the reference side
  fits in a broadcast (≲ 1M × 64 f64 ≈ 0.5 GB). Builds the broadcast
  driver-side, so it is guarded by ``max_broadcast_rows`` and
  falls back to ``chunked_topk_pairs`` above the cap.
- ``blocked_threshold_pairs`` — one shuffle on a blocking key, then
  a block-local O(b²) kernel; exact WITHIN blocks (IVF trade).
- q61's bucketed probe — same blocked shape with a quantizer as the
  key; see queries/ann.py.

Exact all-pairs is intrinsically O(n²) COMPUTE no matter the plan;
past ~1M vectors the right operator is the ANN tier (q61), and these
exact kernels are the oracle it is validated against.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F


def _local_topk(sims, k):
    """Indices of every finite entry at-or-above the k-th largest
    value (tie-safe: the global order sees all contenders)."""
    import numpy as np

    flat = sims.ravel()
    if flat.size > k:
        vk = np.partition(flat, flat.size - k)[flat.size - k]
        idx = np.nonzero(np.isfinite(flat) & (flat >= vk))[0]
    else:
        idx = np.nonzero(np.isfinite(flat))[0]
    return idx, flat


def chunked_topk_pairs(df: DataFrame, id_col: str, vec_col: str,
                       k: int = 100,
                       rows_per_chunk: int = 4096) -> DataFrame:
    """Global top-k most-cosine-similar pairs (id_a < id_b), exact,
    with NO driver-side collect: ids hash into ``B = ceil(n /
    rows_per_chunk)`` chunks; each of the B(B+1)/2 chunk pairs is one
    ``applyInPandas`` group computing one matmul and keeping its
    local tie-safe top-k; a TakeOrderedAndProject over ≤ k·tasks
    candidate rows yields the global answer.

    Plan: rows join a broadcast task list twice (once per side), so
    each row is replicated to B+1 tasks — shuffle O(n·B), compute
    O(n²·d / 2) spread evenly over tasks. The only driver action is a
    count() to size B (one scalar). Returns (id_a, id_b, sim), sim
    rounded 4dp, ordered (sim desc, id_a, id_b)."""
    import numpy as np
    import pandas as pd

    from hearthstats_spark.io import local_frame  # io imports operators

    spark = df.sparkSession
    n = df.count()  # scalar metadata action (sizes B), not a collect
    # parallelism floor: even when everything fits one chunk, split to
    # ~8 chunks (36 tasks) once there's enough data — a single
    # applyInPandas task is a straggler magnet (measured 0.6–5 s
    # jitter for the same one-task plan), while a few dozen small
    # tasks run stably and keep the cores busy
    n_chunks = max(1, math.ceil(n / rows_per_chunk),
                   min(8, math.ceil(n / 256)))

    base = df.select(F.col(id_col).alias("vec_id"),
                     F.col(vec_col).alias("embedding"),
                     F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_chunks))
                     .cast("int").alias("__c"))
    if n_chunks == 1:
        # degenerate task list — skip the task join/union entirely:
        # one shuffle of all rows into the single (0,0) task
        rows = base.select(F.lit(0).alias("ca"), F.lit(0).alias("cb"),
                           "vec_id", "embedding", F.lit(0).alias("__side"))
        side_a, side_b = rows, None
    else:
        tasks = local_frame(
            spark,
            [(a, b) for a in range(n_chunks) for b in range(a, n_chunks)],
            "ca int, cb int",
        )
        side_a = (base.join(F.broadcast(tasks), F.col("__c") == F.col("ca"))
                  .select("ca", "cb", "vec_id", "embedding",
                          F.lit(0).alias("__side")))
        side_b = (base.join(F.broadcast(tasks), F.col("__c") == F.col("cb"))
                  .select("ca", "cb", "vec_id", "embedding",
                          F.lit(1).alias("__side")))

    empty = pd.DataFrame({"vec_id_a": pd.Series(dtype="int64"),
                          "vec_id_b": pd.Series(dtype="int64"),
                          "sim": pd.Series(dtype="float64")})

    def task_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        same = pdf["ca"].iat[0] == pdf["cb"].iat[0]
        a = pdf[pdf["__side"] == 0]
        b = a if same else pdf[pdf["__side"] == 1]
        if not len(a) or not len(b):
            # a hash chunk can be empty → one-sided task, no pairs
            return empty
        ids_a = a["vec_id"].to_numpy()
        ids_b = b["vec_id"].to_numpy()
        ma = np.stack(a["embedding"].to_numpy()).astype(np.float64)
        mb = ma if same else np.stack(b["embedding"].to_numpy()).astype(np.float64)
        na = np.sqrt((ma * ma).sum(axis=1))
        nb = na if same else np.sqrt((mb * mb).sum(axis=1))
        sims = np.round((ma @ mb.T) / np.outer(na, nb), 4)
        # each unordered pair appears exactly once per task; mask the
        # diagonal/dup half only when both sides are the same chunk
        if same:
            sims[ids_a[:, None] >= ids_b[None, :]] = -np.inf
        idx, flat = _local_topk(sims, k)
        ai, bi = np.unravel_index(idx, sims.shape)
        pa, pb = ids_a[ai], ids_b[bi]
        return pd.DataFrame({
            "vec_id_a": np.minimum(pa, pb), "vec_id_b": np.maximum(pa, pb),
            "sim": flat[idx],
        })

    rows = side_a if side_b is None else side_a.unionByName(side_b)
    # pre-partition to exactly the task count on the grouping keys:
    # the groupBy's required distribution is then already satisfied,
    # so the plan runs n_tasks real tasks instead of
    # spark.sql.shuffle.partitions mostly-empty ones (each empty
    # FlatMapGroupsInPandas task still acquires a Python worker —
    # measured as multi-second jitter at 32 partitions / 1 task)
    n_tasks = n_chunks * (n_chunks + 1) // 2
    cand = (rows.repartition(n_tasks, "ca", "cb")
            .groupBy("ca", "cb")
            .applyInPandas(task_topk,
                           "vec_id_a long, vec_id_b long, sim double"))
    return (cand.orderBy(F.col("sim").desc(), "vec_id_a", "vec_id_b")
            .limit(k)
            .withColumnRenamed("vec_id_a", f"{id_col}_a")
            .withColumnRenamed("vec_id_b", f"{id_col}_b"))


def brute_force_topk_pairs(df: DataFrame, id_col: str, vec_col: str,
                           k: int = 100,
                           max_broadcast_rows: int = 100_000) -> DataFrame:
    """Global top-k most-cosine-similar pairs (id_a < id_b), exact.
    Small-reference fast path: the full matrix broadcasts once and
    each Arrow batch does ONE matmul against it, keeping its tie-safe
    local top-k. The broadcast is built via a driver collect, so
    inputs beyond ``max_broadcast_rows`` route through
    ``chunked_topk_pairs`` instead of materializing on the driver.
    Returns (id_a, id_b, sim) with sim rounded 4dp."""
    import numpy as np
    import pandas as pd

    base = df.select(F.col(id_col).alias("vec_id"),
                     F.col(vec_col).alias("embedding"))
    if base.count() > max_broadcast_rows:
        return chunked_topk_pairs(df, id_col, vec_col, k=k)
    pdf = base.toPandas()
    ref_ids = pdf["vec_id"].to_numpy()
    ref = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    ref_n = np.sqrt((ref * ref).sum(axis=1))
    bc = df.sparkSession.sparkContext.broadcast((ref_ids, ref, ref_n))

    def topk(batches):
        ids_r, mat_r, nrm_r = bc.value
        for b in batches:
            q_ids = b["vec_id"].to_numpy()
            q = np.stack(b["embedding"].to_numpy()).astype(np.float64)
            q_n = np.sqrt((q * q).sum(axis=1))
            sims = np.round((q @ mat_r.T) / np.outer(q_n, nrm_r), 4)
            sims[q_ids[:, None] >= ids_r[None, :]] = -np.inf
            idx, flat = _local_topk(sims, k)
            ai, bi = np.unravel_index(idx, sims.shape)
            yield pd.DataFrame({
                "vec_id_a": q_ids[ai], "vec_id_b": ids_r[bi],
                "sim": flat[idx],
            })

    cand = base.mapInPandas(topk, "vec_id_a long, vec_id_b long, sim double")
    return (cand.orderBy(F.col("sim").desc(), "vec_id_a", "vec_id_b")
            .limit(k)
            .withColumnRenamed("vec_id_a", f"{id_col}_a")
            .withColumnRenamed("vec_id_b", f"{id_col}_b"))


def blocked_threshold_pairs(df: DataFrame, id_col: str, vec_col: str,
                            block_col: str,
                            min_sim: float = 0.3) -> DataFrame:
    """All pairs with cosine ≥ min_sim sharing a blocking key.
    Returns (block, id_a, id_b, sim)."""
    import numpy as np
    import pandas as pd

    base = df.select(F.col(block_col).alias("block"),
                     F.col(id_col).alias("vec_id"),
                     F.col(vec_col).alias("embedding"))

    def block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        order = np.argsort(pdf["vec_id"].to_numpy())
        ids = pdf["vec_id"].to_numpy()[order]
        mat = np.stack(pdf["embedding"].to_numpy()[order]).astype(np.float64)
        nrm = np.sqrt((mat * mat).sum(axis=1))
        sims = (mat @ mat.T) / np.outer(nrm, nrm)
        ai, bi = np.nonzero(np.triu(sims >= min_sim, k=1))
        blk = pdf["block"].iloc[:1]
        return pd.DataFrame({
            "block": blk.repeat(len(ai)).to_numpy()
            if len(ai) else np.array([], dtype=blk.dtype),
            "id_a": ids[ai], "id_b": ids[bi],
            "sim": np.round(sims[ai, bi], 4),
        })

    out_block_type = dict(base.dtypes)["block"]
    return base.groupBy("block").applyInPandas(
        block_pairs,
        f"block {out_block_type}, id_a long, id_b long, sim double",
    )
