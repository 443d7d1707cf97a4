"""Operator-level correctness that the DuckDB oracle can't express:
LSH vs brute-force Jaccard, HLL error bound, nested Parquet
round-trip (SURVEY.md §5.2 item 3)."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def _shingle_sets(spark, sf_dir: str, k: int = 5) -> dict[int, frozenset]:
    from hearthstats_spark.io import load_table

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = {}
    for r in d.collect():
        toks = r["text"].split(" ")
        sh = {" ".join(toks[i:i + k]) for i in range(max(len(toks) - k, 0) + 1)}
        out[r["doc_id"]] = frozenset(sh)
    return out


def test_lsh_pairs_match_brute_force(spark, registry):
    """approxSimilarityJoin's distances are exact on candidate pairs
    (precision = 1); with 8 hash tables on sf0.001's corpus every true
    pair must also be recalled (sets either both empty or equal)."""
    got = registry["q49_dedup_near"].fn(spark, SF_SMALL).collect()
    got_pairs = {(r["doc_id_a"], r["doc_id_b"]): r["jaccard_dist"] for r in got}

    sh = _shingle_sets(spark, SF_SMALL)
    ids = sorted(sh)
    want_pairs = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(sh[a] & sh[b])
            union = len(sh[a] | sh[b])
            jd = 1.0 - (inter / union if union else 0.0)
            if jd <= 0.3:
                want_pairs[(a, b)] = round(jd, 4)

    assert set(got_pairs) == set(want_pairs)
    # HashingTF buckets shingles into 2^18 features; rare collisions
    # merge distinct shingles, shifting Jaccard by O(1/num_shingles)
    for pair, jd in want_pairs.items():
        assert abs(got_pairs[pair] - jd) <= 5e-3


def test_corpus_within_oracle_series_bounds():
    """ADVICE r10: q49's oracle enumerates shingle positions with
    generate_series(0, 4096) and q163's enumerates character
    positions with generate_series(1, 4096); a document (or token)
    longer than the bound would silently lose shingles/pairs on the
    ORACLE side only, producing a driver mismatch misattributed to
    the engine. Pin the corpus contract at both driver SFs so a
    regenerated corpus that violates the bound fails HERE, with the
    right diagnosis, instead of in CORRECTNESS_r*.json."""
    import duckdb

    con = duckdb.connect()
    for sf in ("/root/testdata/sf0.01", "/root/testdata/sf0.1"):
        max_words = con.execute(
            f"SELECT MAX(len(string_split(text, ' ')))"
            f" FROM read_parquet('{sf}/documents.parquet')"
            f" WHERE text IS NOT NULL").fetchone()[0]
        max_tok = con.execute(
            f"SELECT MAX(len(w)) FROM (SELECT"
            f" unnest(string_split(text, ' ')) AS w"
            f" FROM read_parquet('{sf}/documents.parquet')"
            f" WHERE text IS NOT NULL)").fetchone()[0]
        assert max_words <= 4096, (
            f"{sf}: a document has {max_words} words — q49's oracle "
            f"series bound (4096) silently drops shingles past it; "
            f"widen the bound before trusting a q49 driver mismatch")
        assert max_tok <= 4096, (
            f"{sf}: a token has {max_tok} chars — q163's oracle "
            f"series bound (4096) silently drops pairs past it")


def test_approx_count_distinct_within_2pct(spark, registry):
    """q22's hashed band is 5 % (~3σ at rsd=0.016); the tighter 2 %
    estimate pin lives here at sf0.01, per the sketch-oracle policy
    (sketches.py module docstring — same split as q84)."""
    from pyspark.sql import functions as F

    from hearthstats_spark.io import load_table

    row = registry["q22_agg_approx"].fn(spark, SF_SMALL).collect()[0]
    ev = load_table(spark, SF_SMALL, "events")
    exact = ev.select("user_id").distinct().count()
    assert row["exact_users"] == exact
    assert row["est_within_5pct"] is True
    approx = ev.agg(
        F.approx_count_distinct("user_id", rsd=0.016)).collect()[0][0]
    assert abs(approx - exact) / exact <= 0.02


def test_multimodal_nested_parquet_roundtrip(spark):
    """q55's nested struct record survives a Parquet write/read with
    schema and values intact (the rows-only half of q55)."""
    from hearthstats_spark.io import load_tables

    t = load_tables(spark, SF_SMALL, ("documents", "embeddings"))
    assembled = (
        t["documents"]
        .join(t["embeddings"], F.col("doc_id") == F.col("vec_id"))
        .select(
            "doc_id",
            F.struct("lang", "source", "n_chars").alias("text_meta"),
            F.struct("label", "embedding").alias("vector"),
        )
    )
    with tempfile.TemporaryDirectory(prefix="hs_mm_") as tmp:
        path = os.path.join(tmp, "mm.parquet")
        assembled.write.parquet(path)
        back = spark.read.parquet(path)
        # Parquet reads are always nullable; compare structure/types only
        assert back.schema.simpleString() == assembled.schema.simpleString()
        assert back.count() == assembled.count()
        a = assembled.orderBy("doc_id").limit(5).collect()
        b = back.orderBy("doc_id").limit(5).collect()
        assert a == b


def test_exact_dedup_operator_keeps_min_survivor(spark):
    from pyspark.sql import Row

    from hearthstats_spark.operators import exact_dedup

    df = spark.createDataFrame([
        Row(doc_id=3, text="aaa"), Row(doc_id=1, text="aaa"),
        Row(doc_id=2, text="bbb"), Row(doc_id=4, text="aaa"),
    ])
    out = exact_dedup(df, on=["text"], order_by="doc_id")
    got = sorted((r["doc_id"], r["text"]) for r in out.collect())
    assert got == [(1, "aaa"), (2, "bbb")]  # deterministic min survivor


def test_exact_dedup_duplicated_min_and_cross_group_collision(spark):
    """Regression (ADVICE r01): the old semi-join on order_by alone
    (a) kept BOTH rows of a group whose min order_by was duplicated
    and (b) kept any row whose order_by equaled another group's min."""
    from pyspark.sql import Row

    from hearthstats_spark.operators import exact_dedup

    df = spark.createDataFrame([
        # group "aaa": min order_by (1) appears twice → exactly one survives
        Row(doc_id=1, text="aaa", src="x"),
        Row(doc_id=1, text="aaa", src="y"),
        Row(doc_id=5, text="aaa", src="z"),
        # group "bbb": its row's order_by (1) equals group aaa's min —
        # must still dedup within its own group only
        Row(doc_id=1, text="bbb", src="x"),
        Row(doc_id=7, text="bbb", src="y"),
    ])
    out = exact_dedup(df, on=["text"], order_by="doc_id").collect()
    assert len(out) == 2
    by_text = {r["text"]: r for r in out}
    assert by_text["aaa"]["doc_id"] == 1
    assert by_text["aaa"]["src"] == "x"  # tiebreak on remaining cols
    assert by_text["bbb"]["doc_id"] == 1


def test_exact_dedup_null_positions_distinct(spark):
    """Regression (ADVICE r01): concat_ws skips NULLs, so ('a', NULL,
    'b') and ('a', 'b', NULL) used to digest identically; the NULL
    sentinel encoding must keep them distinct groups."""
    from pyspark.sql import Row

    from hearthstats_spark.operators import exact_dedup

    df = spark.createDataFrame(
        [Row(doc_id=1, k1="a", k2=None, k3="b"),
         Row(doc_id=2, k1="a", k2="b", k3=None),
         Row(doc_id=3, k1="a", k2="b", k3=None)],
        "doc_id long, k1 string, k2 string, k3 string",
    )
    out = exact_dedup(df, on=["k1", "k2", "k3"], order_by="doc_id")
    got = sorted(r["doc_id"] for r in out.collect())
    assert got == [1, 2]  # rows 2/3 are true dups; row 1 is not


def test_chunked_topk_matches_broadcast_kernel(spark):
    """q50's chunk-pair kernel (no driver collect) must produce the
    identical top-k to the broadcast brute-force kernel — forced
    multi-chunk (rows_per_chunk=64 → several chunk-pair tasks) so the
    cross-chunk orientation/masking paths are actually exercised."""
    from hearthstats_spark.operators.similarity import (
        brute_force_topk_pairs, chunked_topk_pairs)

    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    want = brute_force_topk_pairs(e, "vec_id", "embedding", k=50).collect()
    got = chunked_topk_pairs(e, "vec_id", "embedding", k=50,
                             rows_per_chunk=64).collect()
    as_tuples = lambda rows: [(r["vec_id_a"], r["vec_id_b"], r["sim"])
                              for r in rows]
    assert as_tuples(got) == as_tuples(want)


def test_brute_force_topk_guard_routes_oversize_to_chunked(spark):
    """Above max_broadcast_rows the broadcast kernel must not collect
    the table driver-side; it falls back to the chunked kernel and
    still returns the identical answer."""
    from hearthstats_spark.operators.similarity import brute_force_topk_pairs

    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    want = brute_force_topk_pairs(e, "vec_id", "embedding", k=10).collect()
    got = brute_force_topk_pairs(e, "vec_id", "embedding", k=10,
                                 max_broadcast_rows=10).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_simhash_operator_identical_texts_collide(spark):
    from pyspark.sql import Row

    from hearthstats_spark.operators import simhash

    df = spark.createDataFrame([
        Row(doc_id=1, text="spark shuffles the hash join"),
        Row(doc_id=2, text="spark shuffles the hash join"),
        Row(doc_id=3, text="completely different words entirely"),
    ])
    sigs = {r["doc_id"]: r["simhash"] for r in simhash(df, "doc_id").collect()}
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[3]


def test_exact_dedup_finds_known_duplicates(spark, registry):
    """sf0.1 contains exactly 8 duplicated texts (FIXTURES.md [G])."""
    sf01 = "/root/testdata/sf0.1"
    if not os.path.exists(os.path.join(sf01, "documents.parquet")):
        pytest.skip("sf0.1 testdata absent")
    row = registry["q48_dedup_exact"].fn(spark, sf01).collect()[0]
    assert row["n_dups"] == 8
    assert row["n_total"] - row["n_unique"] == 8


def test_prefix_jaccard_known_pairs(spark):
    """Exact-Jaccard join: identical docs score 1.0, a one-word edit
    scores below 1 but above threshold, disjoint docs never pair."""
    from hearthstats_spark.operators.dedup import (
        prefix_filtered_jaccard_pairs,
    )

    df = spark.createDataFrame([
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),
        (3, "the quick brown fox leaps over the lazy dog"),
        (4, "completely unrelated text about spark shuffles here"),
    ], "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in prefix_filtered_jaccard_pairs(
               df, "doc_id", "text", k=3, t_num=1, t_den=3).collect()}
    assert got[(1, 2)] == 1.0
    assert 0.3 < got[(1, 3)] < 1.0
    assert got[(1, 3)] == got[(2, 3)]
    assert not any(4 in pair for pair in got)


def test_prefix_jaccard_indexed_lane_equal(spark, registry,
                                           monkeypatch, tmp_path):
    """The persisted-index tier (SPARK_GRAFT_JACCARD_INDEX=1) must be
    bit-identical to the in-plan kernel — q83's env-gated lane, the
    round-9 crossover measurement's correctness precondition. Runs
    both lanes at sf0.001 through the REGISTRY entry so the gate in
    _jaccard_pairs is what's tested, with the artifact cache ON for
    the indexed lane (that's the lane being shipped) in an isolated
    cache root."""
    from hearthstats_spark.oracle import compare

    sf = "/root/testdata/sf0.001"
    q83 = registry["q83_dedup_jaccard_exact"]
    monkeypatch.delenv("SPARK_GRAFT_JACCARD_INDEX", raising=False)
    base = q83.fn(spark, sf).toPandas()
    monkeypatch.setenv("SPARK_GRAFT_JACCARD_INDEX", "1")
    monkeypatch.setenv("SPARK_GRAFT_ANN_CACHE_DIR", str(tmp_path / "jidx"))
    indexed = q83.fn(spark, sf).toPandas()
    res = compare("jaccard_lanes", base, indexed)
    assert res.ok, str(res)
    assert len(base) > 0


def test_skyline_dominance_and_ties(spark):
    """q99's formulation on a hand-built frontier: strictly dominated
    points drop, equal-on-both-axes points survive together, and the
    cheapest point always survives."""
    from hearthstats_spark.operators.rankops import with_global_running_max
    from pyspark.sql import functions as F

    # (id, price, size): frontier is {1, 2, 5, 6} — 3 is dominated by
    # 2 (same price, smaller size), 4 by 2 (pricier, same size),
    # 5/6 are an exact tie pair (both survive), 7 dominated by 5.
    rows = [(1, 1.0, 3), (2, 2.0, 7), (3, 2.0, 5), (4, 3.0, 7),
            (5, 4.0, 9), (6, 4.0, 9), (7, 5.0, 8)]
    df = spark.createDataFrame(rows, "id long, price double, size int")
    per_price = df.groupBy("price").agg(F.max("size").alias("gmax"))
    fp = with_global_running_max(per_price, "price", "gmax",
                                 out_col="sm")
    got = sorted(
        r["id"] for r in df.join(fp, "price").filter(
            (F.col("sm").isNull() | (F.col("sm") < F.col("size")))
            & (F.col("size") == F.col("gmax"))).collect())
    assert got == [1, 2, 5, 6]


def test_co_order_edges_heavy_basket_cap(spark, tmp_path):
    """One synthetic mega-order (200 distinct parts) must contribute
    at most cap·(cap−1)/2 pairs, taken deterministically from the
    order's SMALLEST partkeys — the declared winsorization that
    bounds the basket² fan-out at scale (q98/q108 edge builder)."""
    from hearthstats_spark.queries.analytics_ext import co_order_edges

    rows = [(1, p) for p in range(200)]        # the mega-order
    rows += [(2, 10), (2, 500), (3, 500)]      # normal baskets
    df = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    sf_dir = str(tmp_path)
    df.write.parquet(f"{sf_dir}/lineitem.parquet")

    capped = co_order_edges(spark, sf_dir, basket_cap=5)
    got = {(r["a"], r["b"]) for r in capped.collect()}
    # order 1: pairs among its 5 smallest parts {0..4} only
    mega = {p for p in got if p[0] < 200 and p[1] < 200 and p != (10, 500)}
    assert mega == {(a, b) for a in range(5) for b in range(5) if a < b}
    assert (10, 500) in got                    # order 2 untouched
    assert len(got) == 10 + 1

    # default cap (64): 200-part basket emits exactly 64·63/2 pairs
    # over parts {0..63}; no pair touches a part ≥ 64
    dflt = co_order_edges(spark, sf_dir)
    mega_dflt = {p for p in dflt.collect() if (p["a"], p["b"]) != (10, 500)}
    assert len(mega_dflt) == 64 * 63 // 2
    assert all(r["a"] < 64 and r["b"] < 64 for r in mega_dflt)


def test_minhash_exact_dups_always_candidates(spark, tmp_path):
    """q118's banding guarantees: identical texts share every
    signature slot (n_match=16, est=1.0) and are ALWAYS candidates;
    fully disjoint texts share no band under the fixed hash family;
    the estimate is monotone-ish in real overlap on a known pair."""
    from hearthstats_spark.queries.registry import load_all

    reg = load_all()
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = base.replace("theta", "THETA")  # high but not full overlap
    other = "one two three four five six seven eight nine ten"
    rows = [(1, base, "en", "src0", len(base)),
            (2, base, "en", "src0", len(base)),      # exact dup of 1
            (3, near, "en", "src0", len(near)),
            (4, other, "en", "src0", len(other))]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
              " n_chars long")
    df.write.parquet(f"{tmp_path}/documents.parquet")

    got = {(r["id_a"], r["id_b"]): (r["n_match"], r["est_jaccard"])
           for r in reg["q118_dedup_minhash_exact"]
           .fn(spark, str(tmp_path)).collect()}
    assert got[(1, 2)] == (16, 1.0)         # exact dup: certain recall
    assert not any(4 in p for p in got)     # disjoint: no shared band
    if (1, 3) in got:                       # near dup: partial match
        n, est = got[(1, 3)]
        assert 0 < n < 16 and est == round(n / 16, 4)
        assert got.get((2, 3)) == got[(1, 3)]  # dup symmetry


def test_shingles_null_text_contributes_nothing(spark):
    """NULL text must yield an EMPTY shingle array (doc dropped by
    explode on both engines — the oracles filter text IS NOT NULL),
    not the pre-rewrite engine-only empty-string shingle, and must
    not error under ANSI mode."""
    from pyspark.sql import functions as F

    from hearthstats_spark.operators.dedup import shingles

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, None), (3, "x")], "doc_id long, text string")
    rows = {r["doc_id"]: r["arr"]
            for r in df.select("doc_id",
                               shingles("text", 3).alias("arr")).collect()}
    assert rows[1] == ["a b c", "b c d"]
    assert rows[2] == []
    assert rows[3] == ["x"]
