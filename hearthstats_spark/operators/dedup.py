"""Deduplication operators as a reusable library (the dedup family a
training-data pipeline composes; q48/q49/q59/q60 are the declared
query forms).

All operators are pure DataFrame compositions — one or two shuffles,
no Python in the row path — and return DataFrames so they chain.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F

N_BANDS_DEFAULT = 8


def shingles(col: str = "text", k: int = 5):
    """Column expr: distinct word k-shingles of a text column.

    Formulated as arrays_zip over k SHIFTED token slices (k slices
    per document) instead of the textbook transform-over-sequence
    (one slice + concat per shingle, ~n_words slices per document):
    measured 3× faster at sf0.1 (1.8 s → 0.57 s for the 5000-doc
    explode) with BIT-IDENTICAL output — shingling is the shared
    front end of every text-dedup query (q49/q59/q83/q88/q118/q134/
    q136), so this is the hottest expression in the family. Docs
    shorter than k words degrade to one whole-text shingle, exactly
    like the slice-truncation semantics the oracles replicate.

    NULL text yields an EMPTY array — the doc contributes no
    shingles (explode drops it) on BOTH engines: the shingle oracles
    filter ``text IS NOT NULL`` in their tokenizer CTEs to declare
    the same semantics. (The pre-rewrite form produced one
    empty-string shingle for NULL on the engine side only — a latent
    engine/oracle asymmetry a testdata regeneration would expose;
    pinned in tests/test_operators.py.)"""
    n = "size(__t)"
    parts = ", ".join(f"slice(__t, {j + 1}, {n} - {k - 1})"
                      for j in range(k))
    fields = ", ".join(f"s['{j}']" for j in range(k))
    expr = (f"CASE WHEN __t IS NULL THEN array() "
            f"WHEN {n} <= {k} THEN array(concat_ws(' ', __t)) "
            f"ELSE transform(arrays_zip({parts}), "
            f"s -> concat_ws(' ', {fields})) END")
    return F.array_distinct(
        F.expr(expr.replace("__t", f"split({col}, ' ')")))


def exact_dedup(df: DataFrame, on: Sequence[str],
                order_by: str) -> DataFrame:
    """Drop exact duplicates over ``on`` (by content digest),
    deterministically keeping the row with min ``order_by`` — not
    dropDuplicates, so the survivor is stable across
    runs/partitionings.

    Formulation: row_number over Window.partitionBy(digest) — one
    shuffle on the digest, same as the groupBy form, but the survivor
    choice happens INSIDE the group. (An earlier semi-join-on-
    ``order_by``-alone version wrongly kept both rows when a group's
    min ``order_by`` was duplicated, and kept rows whose ``order_by``
    merely equaled another group's min.)

    NULL handling: each key column is NULL-encoded before the digest
    (``\\x00NULL`` sentinel + ``\\x1f`` separator), so ('a', NULL,
    'b') and ('a', 'b', NULL) hash differently — ``concat_ws`` alone
    silently drops NULLs and would conflate them.

    Determinism: ties on ``order_by`` within a group fall back to the
    remaining columns in ``df.columns`` order, so the survivor is a
    total-order choice even when ``order_by`` is not unique."""
    from pyspark.sql import Window

    digest = F.md5(F.concat_ws(
        "\x1f",
        *[F.coalesce(F.col(c).cast("string"), F.lit("\x00NULL"))
          for c in on],
    ).cast("binary"))
    tiebreak = [c for c in df.columns if c != order_by]
    w = Window.partitionBy("__h").orderBy(order_by, *tiebreak)
    return (df.withColumn("__h", digest)
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__h", "__rn"))


def minhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 5,
    n_bands: int = N_BANDS_DEFAULT,
    max_jaccard_dist: float = 0.3,
) -> DataFrame:
    """Near-duplicate pairs (exact Jaccard ≤ threshold over word
    k-shingles) via MinHash banding. See q49's docstring for the plan
    shape and the stack-not-posexplode rationale; this is that
    pipeline parameterized. Returns (id_a, id_b, jaccard_dist)."""
    # cached: four DAG branches read the shingle sets (both band-join
    # sides + both candidate probes) and Spark does not reuse the
    # subplan across branches — caching halves the wall clock
    # (measured 7.5s → 3.6s at sf0.1). The cache is partition-sized
    # (ids + shingle arrays), LRU-evicted; at cluster scale prefer an
    # explicit checkpoint of the shingled frame.
    sh = df.select(F.col(id_col).alias("__id"),
                   shingles(text_col, k).alias("__sh")).cache()
    sig = sh.select(
        "__id",
        *[F.array_min(F.transform(
            "__sh", lambda s: F.xxhash64(s, F.lit(b))
        )).alias(f"__mh{b}") for b in range(n_bands)],
    )
    banded = sig.select(
        "__id",
        F.expr("stack({}, {}) as (band, minhash)".format(
            n_bands, ", ".join(f"{b}, __mh{b}" for b in range(n_bands)))),
    )
    cand = (
        banded.alias("a")
        .join(banded.alias("b"),
              (F.col("a.band") == F.col("b.band"))
              & (F.col("a.minhash") == F.col("b.minhash"))
              & (F.col("a.__id") < F.col("b.__id")))
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .distinct()
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
    return (
        cand
        .join(sh.select(F.col("__id").alias("id_a"),
                        F.col("__sh").alias("sh_a")), "id_a")
        .join(sh.select(F.col("__id").alias("id_b"),
                        F.col("__sh").alias("sh_b")), "id_b")
        .select("id_a", "id_b",
                F.round(1.0 - inter / union, 4).alias("jaccard_dist"))
        .filter(F.col("jaccard_dist") <= max_jaccard_dist)
    )


def prefix_filtered_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 3,
    t_num: int = 3,
    t_den: int = 5,
) -> DataFrame:
    """EXACT n-gram Jaccard similarity self-join via prefix filtering
    (the AllPairs/PPJoin candidate-generation idea: Bayardo et al.
    WWW'07, Xiao et al. WWW'08) — the exact complement of the MinHash
    (approximate, possible false negatives) and SimHash sketches.

    Guarantee: order every doc's shingles by a global canonical order
    (ascending document frequency, shingle as tie-break) and index only
    the first ``sz - ceil(t·sz) + 1`` of each ("prefix"). Any pair
    with Jaccard ≥ t has overlap ≥ ceil(t·max(|A|,|B|)), so the
    smallest common shingle under the canonical order must fall inside
    BOTH prefixes — the prefix self-join misses nothing. Rare-first
    ordering simultaneously minimizes the join fan-out: hot shingles
    live in suffixes and never generate candidates.

    Scale: shuffles are (1) shingle groupBy for df, (2) doc_id window
    for the rank, (3) prefix equi-self-join on shingle, (4) two id
    equi-joins for the verify — all linear in data + candidates,
    never all-pairs. The per-shingle fan-out is bounded by the rarity
    ordering (and AQE splits residual skew); the verify is per-pair
    ``array_intersect`` on the cached shingle arrays — no pair-key
    shuffle. The shingle-array frame is cached for the same measured
    reason as MinHash above: three DAG branches read it and Spark
    does not reuse the subplan (at cluster scale: checkpoint).

    Threshold math is integer-only (``t_den·i ≥ t_num·union`` and the
    prefix length via ceil-division ``(t_num·sz + t_den−1) div
    t_den``), so results are hash-exact across engines — no float
    literal drift (DuckDB parses ``0.6`` as DECIMAL; Spark as DOUBLE).

    Shingles are xxhash64-hashed to longs AT THE SOURCE: every
    downstream shuffle/join/window keys on 8 bytes instead of a
    ~25-byte string, and the verify intersects primitive-long arrays
    (measured ~40%% off the kernel at sf0.1). The verified OUTPUT is
    unchanged: candidates are a superset under any consistent
    canonical order and the verify recomputes exact set overlap, so
    only an actual xxhash64 collision between two distinct shingles
    of one corpus could shift a count (~|vocab|²/2⁶⁴ ≈ 10⁻⁸ at
    100 TB vocab sizes; the string-side DuckDB oracle would catch
    exactly such an event as a hash mismatch).

    Returns (id_a, id_b, jaccard) for pairs with J ≥ t_num/t_den.
    """
    from pyspark.sql import Window

    sets = df.select(
        F.col(id_col).alias("__id"),
        F.transform(shingles(text_col, k),
                    lambda s: F.xxhash64(s)).alias("__arr")).cache()
    sh = sets.select("__id", F.size("__arr").alias("__sz"),
                     F.explode("__arr").alias("__s"))
    freq = sh.groupBy("__s").agg(F.count(F.lit(1)).alias("__df"))
    plen = (F.col("__sz")
            - F.expr(f"({t_num} * __sz + {t_den - 1}) div {t_den}") + 1)
    ranked = sh.join(freq, "__s").withColumn(
        "__rk",
        F.row_number().over(
            Window.partitionBy("__id").orderBy("__df", "__s")))
    # cache the pruned prefix index: BOTH sides of the self-join read
    # it and Spark does not reuse the duplicated subplan — without
    # this the explode→freq-join→rank chain runs twice (measured ~2×
    # the candidate-gen cost at sf0.1). __rk/__sz ride along for the
    # positional filter (see _jaccard_candidates_verify).
    prefix = (ranked.filter(F.col("__rk") <= plen)
              .select("__id", "__s", "__rk", "__sz").cache())
    return _jaccard_candidates_verify(sets, prefix, t_num, t_den)


def _jaccard_candidates_verify(sets: DataFrame, prefix: DataFrame,
                               t_num: int, t_den: int) -> DataFrame:
    """Candidate generation + exact verify over a (__id, __arr) set
    frame and a (__id, __s, __rk, __sz) prefix index — the back half
    of ``prefix_filtered_jaccard_pairs``, shared verbatim by the
    persisted-index tier so the two lanes cannot drift.

    POSITIONAL filter (optimization round 12, guide §2.3 — the
    PPJoin refinement of the prefix filter): a matched prefix row
    also knows each side's rank of the shared shingle in the global
    canonical order, and every common shingle of the pair sorts at or
    after its side's rank of the pair's FIRST common shingle, so
    i ≤ min(szA−rkA, szB−rkB) + 1 at that first match. J ≥ t ⟺
    i·(t_num+t_den) ≥ t_num·(szA+szB), so rows violating
    (t_num+t_den)·(min(szA−rkA, szB−rkB)+1) ≥ t_num·(szA+szB) cannot
    be a qualifying pair's first match and are dropped BEFORE the
    distinct + the two verify joins. Safety: for any truly similar
    pair the first-common-shingle row satisfies the bound (it is a
    theorem, applied at exactly that row), so the pair always
    survives the distinct; later matches of the same pair may be
    filtered — harmless under distinct — and the exact
    array_intersect verify is unchanged, so output is identical
    (candidates remain a superset of qualifying pairs)."""
    ub = F.least(F.col("a.__sz") - F.col("a.__rk"),
                 F.col("b.__sz") - F.col("b.__rk")) + 1
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"),
              (F.col("a.__s") == F.col("b.__s"))
              & (F.col("a.__id") < F.col("b.__id")))
        .filter((t_num + t_den) * ub
                >= t_num * (F.col("a.__sz") + F.col("b.__sz")))
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .distinct()
    )
    inter = F.size(F.array_intersect("arr_a", "arr_b"))
    union = F.size("arr_a") + F.size("arr_b") - inter
    return (
        cand
        .join(sets.select(F.col("__id").alias("id_a"),
                          F.col("__arr").alias("arr_a")), "id_a")
        .join(sets.select(F.col("__id").alias("id_b"),
                          F.col("__arr").alias("arr_b")), "id_b")
        .filter(t_den * inter >= t_num * union)
        .select("id_a", "id_b",
                F.round(inter.cast("double") / union.cast("double"),
                        4).alias("jaccard"))
    )


def prefix_filtered_jaccard_pairs_indexed(
    spark,
    sf_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    t_num: int = 3,
    t_den: int = 5,
) -> DataFrame:
    """Persisted-index tier of ``prefix_filtered_jaccard_pairs``: the
    shingle-set frame and the prefix posting list are served from the
    content-keyed artifact store (operators/ann_index.persisted, the
    q118 minhash_sig_all shape) instead of being recomputed — a warm
    run skips the explode, the corpus-wide doc-frequency shuffle, and
    the per-doc rank window entirely, leaving only the candidate
    self-join + verify.

    MEASURED AND REJECTED at sf0.1 in round 8 (ROUND8_NOTES: parquet
    array<long> deserialization of the corpus-sized set frame costs
    more than recomputing xxhash64 shingles inside whole-stage
    codegen); kept as a callable lane for a larger-scale re-measure
    and for cluster deployments where the doc-frequency shuffle
    dominates. Output is bit-identical to the in-plan kernel by
    construction: the builders below ARE the kernel's first half,
    and the back half is shared code (_jaccard_candidates_verify)."""
    from hearthstats_spark.io import load_table
    from hearthstats_spark.operators.ann_index import cache_enabled, persisted

    if not cache_enabled():
        # with the artifact store disabled, persisted() would return
        # the RAW build plans — sets read by the prefix builder plus
        # both verify joins, prefix by both self-join sides, with no
        # cache — re-running the explode/doc-frequency/rank chain
        # 3-4×. The in-plan kernel's own caching exists for exactly
        # this, so fall back to it (code-review find, round 9).
        return prefix_filtered_jaccard_pairs(
            load_table(spark, sf_dir, "documents"),
            id_col, text_col, k=k, t_num=t_num, t_den=t_den)

    def build_sets() -> DataFrame:
        d = load_table(spark, sf_dir, "documents")
        return d.select(
            F.col(id_col).alias("__id"),
            F.transform(shingles(text_col, k),
                        lambda s: F.xxhash64(s)).alias("__arr"))

    # id_col/text_col are folded into the artifact names: the content
    # key must cover EVERY parameter that shapes the artifact, or a
    # later call with different columns on the same corpus would be
    # served a stale frame built from the other columns (ADVICE r9
    # item 3). Default-call names stay stable via the suffix-only-
    # when-non-default form.
    colkey = ("" if (id_col, text_col) == ("doc_id", "text")
              else f"_{id_col}_{text_col}")
    sets = persisted(spark, sf_dir, f"jaccard_sets_k{k}{colkey}",
                     build_sets, table="documents")

    def build_prefix() -> DataFrame:
        from pyspark.sql import Window

        sh = sets.select("__id", F.size("__arr").alias("__sz"),
                         F.explode("__arr").alias("__s"))
        freq = sh.groupBy("__s").agg(F.count(F.lit(1)).alias("__df"))
        plen = (F.col("__sz")
                - F.expr(f"({t_num} * __sz + {t_den - 1}) div {t_den}")
                + 1)
        ranked = sh.join(freq, "__s").withColumn(
            "__rk",
            F.row_number().over(
                Window.partitionBy("__id").orderBy("__df", "__s")))
        return (ranked.filter(F.col("__rk") <= plen)
                .select("__id", "__s", "__rk", "__sz"))

    # "pos" suffix: the positional-filter columns (__rk/__sz) changed
    # the artifact schema, and the store is content-keyed on the
    # TABLE data — a new name retires the rows-only r11 artifact
    # instead of silently serving it with the old schema
    prefix = persisted(spark, sf_dir,
                       f"jaccard_prefix_pos_k{k}_t{t_num}d{t_den}{colkey}",
                       build_prefix, table="documents")
    return _jaccard_candidates_verify(sets, prefix, t_num, t_den)


def winnow_fingerprints(df: DataFrame, id_col: str,
                        text_col: str = "text", k: int = 8,
                        w: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., MOSS):
    polynomial ROLLING hash over char ``k``-grams, then the rightmost
    minimum of every ``w``-hash window, deduplicated — any shared
    substring of length ≥ ``w + k - 1`` between two documents is
    guaranteed to share at least one fingerprint. Returns
    (id, fingerprint) rows.

    Python stage (``mapInPandas``): the O(1)-per-char rolling update
    is inherently sequential within a document, but documents batch
    through Arrow and the stage parallelizes per partition — the same
    layout the decode stubs use. Fingerprint count ≈ 2·len/(w+1) per
    doc, so output stays a small multiple of input rows."""
    import pandas as pd

    B, M = 257, (1 << 61) - 1
    top = pow(B, k - 1, M)

    def fingerprints(text: str) -> list[int]:
        n = len(text)
        if n < k:
            return []
        codes = [ord(c) for c in text]
        h = 0
        for c in codes[:k]:
            h = (h * B + c) % M
        hashes = [h]
        for i in range(1, n - k + 1):
            h = ((h - codes[i - 1] * top) * B + codes[i + k - 1]) % M
            hashes.append(h)
        picked: set[int] = set()
        prev_idx = -1
        for s in range(max(len(hashes) - w + 1, 1)):
            window = hashes[s:s + w]
            m = min(window)
            idx = s + max(j for j, v in enumerate(window) if v == m)
            if idx != prev_idx:
                picked.add(hashes[idx])
                prev_idx = idx
        return sorted(picked)

    def run(batches):
        for b in batches:
            ids, fps = [], []
            for did, text in zip(b[id_col], b[text_col]):
                for fp in fingerprints(text):
                    ids.append(did)
                    fps.append(fp)
            yield pd.DataFrame({id_col: pd.Series(ids, dtype="int64"),
                                "fingerprint": pd.Series(fps, dtype="int64")})

    return df.select(id_col, text_col).mapInPandas(
        run, f"{id_col} long, fingerprint long")


def simhash(df: DataFrame, id_col: str, text_col: str = "text",
            bits: int = 60) -> DataFrame:
    """Per-row SimHash signature over whitespace tokens; ``bits`` ≤ 60
    keeps every intermediate in a signed 64-bit long (q60's docstring
    has the cross-engine rationale). Returns (id, simhash)."""
    assert bits <= 60
    h = F.conv(
        F.substring(F.md5(F.col("__t").cast("binary")), 1, 15), 16, 10
    ).cast("long")
    tok = df.select(
        F.col(id_col).alias("__id"),
        F.explode(F.split(text_col, " ")).alias("__t"),
    ).select("__id", h.alias("__h"))
    # branch-free votes: ones_b = Σ ((h >> b) & 1); bit b is set iff
    # 2·ones_b ≥ n (⇔ Σ(±1) ≥ 0, the classic vote) — same integer
    # arithmetic as the when/otherwise form but cheaper codegen
    # (60 masked adds instead of 60 conditionals in the hot agg)
    votes = tok.groupBy("__id").agg(
        F.count(F.lit(1)).alias("__n"),
        *[F.sum(F.shiftright("__h", b).bitwiseAND(F.lit(1)))
          .alias(f"__v{b}") for b in range(bits)],
    )
    sig = sum(
        (
            F.when(2 * F.col(f"__v{b}") >= F.col("__n"),
                   F.lit(1).cast("long") * (1 << b))
            .otherwise(F.lit(0).cast("long"))
            for b in range(bits)
        ),
        start=F.lit(0).cast("long"),
    )
    return votes.select(F.col("__id").alias(id_col), sig.alias("simhash"))
