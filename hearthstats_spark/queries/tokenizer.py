"""Group L — tokenizer training kernels (q188): the BPE statistics
pass every LLM data pipeline runs before training a tokenizer.

Byte-pair encoding (Sennrich et al., ACL 2016) trains by repeatedly
(1) counting the frequency of every ADJACENT SYMBOL PAIR across the
corpus and (2) merging the most frequent pair into a new symbol.
Step (1) is the entire distributed cost, and its classical
optimization is the one implemented here: collapse the corpus to a
WORD-FREQUENCY table first (one hash agg over the raw text — words
repeat enormously), then count pairs over the VOCABULARY weighted by
word frequency. The pair-counting pass therefore touches vocab-sized
data (thousands of rows) instead of corpus-sized data (billions),
which is exactly why production BPE trainers are feasible at 100 TB:
the only corpus-scale operation is the word-count agg, which is
map-side combinable.

q188 runs the first-iteration pair count from characters (the merge
candidates every BPE run starts from) and reports the top-20 pairs —
the head of the merge table. No end-of-word marker is appended (a
production trainer adds '</w>'; it changes bookkeeping, not the
counting shape). Top-k via orderBy+LIMIT (per-partition heaps →
TakeOrderedAndProject) with the rank window running AFTER the limit
over ≤ 20 rows — q92's bounded-global-window discipline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hearthstats_spark.io import load_table, local_frame
from hearthstats_spark.operators.bounded import broadcast_bounded
from hearthstats_spark.operators.rankops import (
    with_global_prefix_sum, with_global_prefix_sums,
)
from hearthstats_spark.queries.registry import register

_TOP_PAIRS = 20


def _q188_oracle() -> str:
    return rf"""
    WITH w AS MATERIALIZED (
        SELECT word, COUNT(*) AS freq
        FROM (SELECT unnest(regexp_split_to_array(text, '\s+')) AS word
              FROM documents WHERE text IS NOT NULL)
        WHERE length(word) >= 2
        GROUP BY word
    ),
    p AS (
        SELECT pair, CAST(SUM(freq) AS BIGINT) AS pair_count
        FROM (SELECT unnest(list_transform(
                  generate_series(1, length(word) - 1),
                  i -> substr(word, i, 2))) AS pair, freq
              FROM w)
        GROUP BY pair
    )
    SELECT pair, pair_count, CAST(rk AS INT) AS rk
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY pair_count DESC, pair)
              AS rk FROM p)
    WHERE rk <= {_TOP_PAIRS}
    """


def word_freqs(docs: DataFrame) -> DataFrame:
    """(word, freq): the corpus collapsed to its vocabulary — the
    one corpus-scale agg of a BPE iteration (map-side combinable;
    everything downstream is vocab-sized). Words shorter than 2
    chars carry no pairs and are dropped here."""
    return (
        docs.filter(F.col("text").isNotNull())
        .select(F.explode(F.split("text", r"\s+")).alias("word"))
        .filter(F.length("word") >= 2)
        .groupBy("word").agg(F.count("*").alias("freq"))
    )


def pair_counts(vocab: DataFrame) -> DataFrame:
    """(pair, pair_count): adjacent character-pair frequencies over
    the vocabulary, weighted by word frequency — every occurrence of
    a pair inside a word counts once per corpus occurrence of the
    word. Runs on vocab-sized input by construction."""
    return (
        vocab.select(
            "freq",
            F.explode(F.expr(
                "transform(sequence(1, length(word) - 1), "
                "i -> substring(word, i, 2))")).alias("pair"))
        .groupBy("pair").agg(F.sum("freq").alias("pair_count"))
    )


@register("q188_bpe_pair_stats", oracle=_q188_oracle())
def q188_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_TOP_PAIRS} BPE merge candidates: adjacent character
    pairs ranked by corpus frequency (count desc, pair asc), computed
    vocabulary-weighted (see module docstring for why that is the
    scale story)."""
    vocab = word_freqs(load_table(spark, sf_dir, "documents"))
    top = (pair_counts(vocab)
           .orderBy(F.desc("pair_count"), "pair").limit(_TOP_PAIRS))
    rk = Window.orderBy(F.desc("pair_count"), "pair")
    return top.withColumn("rk", F.row_number().over(rk).cast("int"))


# ---- q189: apply merge #1, recount — the BPE iteration step -------

def _q189_oracle() -> str:
    return rf"""
    WITH w AS MATERIALIZED (
        SELECT word, COUNT(*) AS freq
        FROM (SELECT unnest(regexp_split_to_array(text, '\s+')) AS word
              FROM documents WHERE text IS NOT NULL)
        WHERE length(word) >= 2
        GROUP BY word
    ),
    p AS (
        SELECT pair, CAST(SUM(freq) AS BIGINT) AS pair_count
        FROM (SELECT unnest(list_transform(
                  generate_series(1, length(word) - 1),
                  i -> substr(word, i, 2))) AS pair, freq
              FROM w)
        GROUP BY pair
    ),
    best AS (SELECT pair FROM p ORDER BY pair_count DESC, pair LIMIT 1),
    sym AS (
        SELECT w.freq,
               string_split(
                   replace(
                       array_to_string(list_transform(
                           generate_series(1, length(w.word)),
                           i -> substr(w.word, i, 1)), ' '),
                       substr(b.pair, 1, 1) || ' ' || substr(b.pair, 2, 1),
                       b.pair),
                   ' ') AS s
        FROM w CROSS JOIN best b
    ),
    p2 AS (
        SELECT pr AS pair, CAST(SUM(freq) AS BIGINT) AS pair_count
        FROM (SELECT freq, unnest(list_transform(
                  generate_series(1, len(s) - 1),
                  i -> s[i] || ' ' || s[i + 1])) AS pr
              FROM sym)
        GROUP BY pr
    )
    SELECT pair, pair_count, CAST(rk AS INT) AS rk
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY pair_count DESC, pair)
              AS rk FROM p2)
    WHERE rk <= {_TOP_PAIRS}
    """


def apply_merge(vocab: DataFrame, best: DataFrame) -> DataFrame:
    """(freq, s): each vocabulary word's symbol sequence after
    applying the winning merge — chars joined by single spaces, the
    merge applied via leftmost non-overlapping string replace
    (IDENTICAL greedy semantics in Spark and DuckDB, verified:
    'a a a' + merge(a,a) → ['aa', 'a']), then re-split. The spaced
    representation is the standard BPE working form: symbol
    boundaries stay unambiguous once symbols grow past one char."""
    return (
        vocab.crossJoin(F.broadcast(best))  # 1 row: keyless-agg bound
        .select("freq", F.split(
            F.replace(
                F.concat_ws(" ", F.split("word", "")),
                F.concat(F.substring("bp", 1, 1), F.lit(" "),
                         F.substring("bp", 2, 1)),
                F.col("bp")),
            " ").alias("s"))
    )


@register("q189_bpe_merge_apply", oracle=_q189_oracle())
def q189_bpe_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full BPE iteration: select merge #1 (q188's top pair —
    computed, not hard-coded), apply it greedily to every vocabulary
    word, and recount adjacent SYMBOL pairs (now 'sym sym' spaced
    strings, since symbols can exceed one char) — the top-{_TOP_PAIRS}
    of the recount is what merge #2 would choose from.

    Scale shape: identical to q188 (everything past the corpus
    word-count agg is vocab-sized) plus one broadcast of the 1-row
    winning-pair frame riding the vocabulary — the scalar-subquery
    broadcast shape (q53), and the merge apply itself is a per-row
    string op inside whole-stage codegen. The winning pair is
    selected with ONE min_by hash agg over (-count, pair) — q181's
    argmax-shortcut, no sort of the pair table."""
    vocab = word_freqs(load_table(spark, sf_dir, "documents"))
    best = pair_counts(vocab).agg(
        F.min_by("pair", F.struct((-F.col("pair_count")).alias("n"),
                                  F.col("pair"))).alias("bp"))
    sym = apply_merge(vocab, best)
    # size guard: a word equal to the winning pair collapses to ONE
    # symbol, and Spark's sequence(1, 0) is the DESCENDING [1, 0]
    # (step defaults to -1 when start > stop) — element_at(s, 0)
    # would then throw. Single-symbol words carry no pairs anyway.
    p2 = (
        sym.filter(F.size("s") >= 2)
        .select("freq", F.explode(F.expr(
            "transform(sequence(1, size(s) - 1), "
            "i -> concat(element_at(s, i), ' ', element_at(s, i + 1)))"
        )).alias("pair"))
        .groupBy("pair").agg(F.sum("freq").alias("pair_count"))
    )
    top = p2.orderBy(F.desc("pair_count"), "pair").limit(_TOP_PAIRS)
    rk = Window.orderBy(F.desc("pair_count"), "pair")
    return top.withColumn("rk", F.row_number().over(rk).cast("int"))


# ---- q190/q191: multi-iteration BPE training + corpus encoding ----
#
# q189 runs ONE merge; a real trainer loops. The loop forces the one
# piece of machinery q189's single-char round could dodge: applying a
# merge over MULTI-char symbols. A plain string replace on the spaced
# form breaks there (the pattern " x y " shares its boundary spaces
# with adjacent matches, so 'x y x y' only merges once per pass), so
# the merge step works on the symbol ARRAY directly:
#
# - Spark: one aggregate() fold per word — scan left→right, merge
#   whenever (last, current) == (x, y). Greedy leftmost
#   non-overlapping by construction: a merged symbol x||y is strictly
#   longer than x, so it can never re-match as the x of the next
#   step, which is exactly the non-overlap rule.
# - DuckDB oracle: the positional formulation — match positions
#   p where (s[p], s[p+1]) = (x, y); consecutive positions conflict
#   only when x = y (s[p+1] must equal both y and x), so greedy =
#   "keep the odd-indexed positions of every consecutive run"
#   (row_number alternation), then rebuild the list skipping p+1 of
#   every kept p.
#
# Same truth, two independent kernels (the q181 discipline), equality
# hash-checked; the toy semantics (overlap runs, post-merge
# adjacency) are pinned in tests/test_tokenizer.py.
#
# Scale story unchanged from q188: the ONLY corpus-scale operation is
# the word-frequency agg. Every iteration runs on the vocabulary
# (pair counts, 1-row argmax, fold), each sym generation is
# localCheckpoint'ed because two consumers read it (next iteration's
# pair count + merge apply), and the winning pair rides a 1-row
# broadcast — at 100 TB the trainer's per-iteration cost is
# vocab-sized, which is why production BPE trainers run at corpus
# scale at all.

_N_MERGES = 5

#: greedy leftmost non-overlapping merge of (x, y) over symbol array
#: s — see the section comment for why this fold IS the greedy rule.
#: try_element_at: acc is empty on the first step and ANSI element_at
#: would throw; NULL = x is NULL → CASE falls through to append.
_MERGE_FOLD = """
aggregate(
    s, cast(array() as array<string>),
    (acc, t) -> CASE WHEN try_element_at(acc, -1) = x AND t = y
                THEN concat(slice(acc, 1, size(acc) - 1),
                            array(concat(x, y)))
                ELSE concat(acc, array(t)) END)
"""


def char_symbols(vocab: DataFrame) -> DataFrame:
    """(word, freq, s): each vocabulary word as its initial
    single-character symbol array — BPE's starting state."""
    return vocab.select("word", "freq", F.expr(
        "transform(sequence(1, length(word)), "
        "i -> substring(word, i, 1))").alias("s"))


def sym_pair_counts(sym: DataFrame) -> DataFrame:
    """(pair, pair_count): adjacent SYMBOL pairs ('x y' spaced —
    symbols never contain whitespace, words were split on it) over a
    symbol frame, weighted by word freq. Single-symbol words are
    filtered (no pairs, and Spark's sequence(1, 0) is descending)."""
    return (
        sym.filter(F.size("s") >= 2)
        .select("freq", F.explode(F.expr(
            "transform(sequence(1, size(s) - 1), "
            "i -> concat(element_at(s, i), ' ', element_at(s, i + 1)))"
        )).alias("pair"))
        .groupBy("pair").agg(F.sum("freq").alias("pair_count"))
    )


def _merge_fold_lit(x: str, y: str):
    """:data:`_MERGE_FOLD` with the winning pair bound as LITERALS —
    the per-iteration fold over the symbol array, parameterized by
    the driver-collected winner instead of a 1-row crossJoin (see
    :func:`bpe_train`). Same greedy leftmost non-overlapping rule;
    ``F.lit`` binds the strings safely (no SQL-text interpolation)."""
    return F.aggregate(
        F.col("s"), F.array().cast("array<string>"),
        lambda acc, t: F.when(
            (F.try_element_at(acc, F.lit(-1)) == F.lit(x))
            & (t == F.lit(y)),
            F.concat(F.slice(acc, F.lit(1), F.size(acc) - F.lit(1)),
                     F.array(F.lit(x + y))))
        .otherwise(F.concat(acc, F.array(t))))


def bpe_train(vocab: DataFrame, n_merges: int):
    """Run up to ``n_merges`` BPE iterations over a (word, freq)
    vocabulary, stopping early if the pair table empties first.
    Returns (merge_table, final_sym): the merge table is
    (rk, pair, pair_count) — pair_count at selection time — and
    final_sym is (word, freq, s) after all merges. Each iteration:
    ONE min_by hash agg picks the winner (no sort of the pair table)
    and the fold applies it greedily.

    Optimization round 11 (guide §1.2 step 1 — fewer passes/jobs):
    the winner is a 1-row driver collect (the q177 GK-cut-vector
    precedent: metadata-sized, scale-free) bound into the fold as
    literals, and each generation's fold chains LAZILY onto the one
    checkpointed sym0 instead of materializing sym per iteration —
    iteration i's single aggregation job recomputes the i−1 prior
    folds in codegen over the vocab-sized frame, which measures
    cheaper than a materialization round-trip per generation (the
    checkpointed corpus-scale word-count agg still runs exactly
    once). Jobs per training run: ~2·n_merges+2 → n_merges+1."""
    sym = char_symbols(vocab).localCheckpoint()
    rows: list[tuple[int, str, int]] = []
    for i in range(1, n_merges + 1):
        # Degenerate lane: when the pair table empties before
        # n_merges iterations (every surviving word is one symbol),
        # the KEYLESS min_by yields a single all-NULL struct —
        # training must STOP, not append a null merge: the merge
        # table ends at the last real merge and sym stays frozen,
        # which is exactly what the oracle's empty-best{i} branch
        # computes (see _bpe_ctes). Unreachable with the shipped
        # corpus and _N_MERGES=5; pinned in tests/test_tokenizer.py.
        b = (sym_pair_counts(sym)
             .agg(F.min_by(F.struct("pair", "pair_count"),
                           F.struct((-F.col("pair_count")).alias("n"),
                                    F.col("pair"))).alias("b"))
             .first()["b"])
        if b is None or b["pair"] is None:
            break
        rows.append((i, b["pair"], int(b["pair_count"])))
        x, y = b["pair"].split(" ", 1)
        sym = sym.select("word", "freq", _merge_fold_lit(x, y).alias("s"))
    # schema-stable also when zero merges were possible (a vocabulary
    # of single-symbol words): same shape the oracle's all-empty
    # best{i} union produces
    merges = local_frame(vocab.sparkSession, rows,
                         "rk int, pair string, pair_count bigint")
    return merges, sym


def _bpe_ctes(n: int) -> str:
    """WITH-clause prefix replaying ``n`` BPE iterations in DuckDB:
    w → sym0 → (pc_i, best_i, sel_i, sym_i) per iteration. sel_i is
    the positional greedy rule (run alternation); sym_i rebuilds each
    word's list skipping the consumed p+1 slots."""
    parts = [r"""
    w AS MATERIALIZED (
        SELECT word, COUNT(*) AS freq
        FROM (SELECT unnest(regexp_split_to_array(text, '\s+')) AS word
              FROM documents WHERE text IS NOT NULL)
        WHERE length(word) >= 2
        GROUP BY word
    ),
    sym0 AS MATERIALIZED (
        SELECT word, freq,
               list_transform(generate_series(1, length(word)),
                              i -> substr(word, i, 1)) AS s
        FROM w
    )"""]
    for i in range(1, n + 1):
        p = i - 1
        parts.append(f""",
    pc{i} AS MATERIALIZED (
        SELECT s[p] AS x, s[p + 1] AS y,
               CAST(SUM(freq) AS BIGINT) AS pair_count
        FROM (SELECT freq, s, unnest(generate_series(1, len(s) - 1))
                  AS p
              FROM sym{p})
        GROUP BY x, y
    ),
    best{i} AS MATERIALIZED (SELECT x, y, pair_count FROM pc{i}
                ORDER BY pair_count DESC, x || ' ' || y LIMIT 1),
    sel{i} AS MATERIALIZED (
        SELECT word, p,
               ROW_NUMBER() OVER (PARTITION BY word, p - rn
                                  ORDER BY p) AS k
        FROM (SELECT word, p,
                     ROW_NUMBER() OVER (PARTITION BY word
                                        ORDER BY p) AS rn
              FROM (SELECT m.word, unnest(list_filter(
                        generate_series(1, len(m.s) - 1),
                        p -> m.s[p] = b.x AND m.s[p + 1] = b.y)) AS p
                    FROM sym{p} m CROSS JOIN best{i} b))
    ),
    sym{i} AS MATERIALIZED (
        SELECT t.word, t.freq,
               list(CASE WHEN sl.p IS NOT NULL THEN b.x || b.y
                         ELSE t.s[t.q] END ORDER BY t.q) AS s
        FROM (SELECT word, freq, s,
                     unnest(generate_series(1, len(s))) AS q
              FROM sym{p}) t
        CROSS JOIN best{i} b
        LEFT JOIN (SELECT word, p FROM sel{i} WHERE k % 2 = 1) sl
               ON sl.word = t.word AND sl.p = t.q
        LEFT JOIN (SELECT word, p FROM sel{i} WHERE k % 2 = 1) c
               ON c.word = t.word AND c.p = t.q - 1
        WHERE c.p IS NULL
        GROUP BY t.word, t.freq
        UNION ALL
        -- degenerate lane: pair table empty => best{i} empty => the
        -- CROSS JOIN branch above is empty; symbols FREEZE at the
        -- previous generation instead of vanishing (matches the
        -- engine's early-stop in bpe_train)
        SELECT word, freq, s FROM sym{p}
        WHERE NOT EXISTS (SELECT 1 FROM best{i})
    )""")
    return "WITH" + "".join(parts)


def _q190_oracle() -> str:
    unions = "\n        UNION ALL ".join(
        f"SELECT {i} AS rk, x || ' ' || y AS pair, pair_count "
        f"FROM best{i}" for i in range(1, _N_MERGES + 1))
    return _bpe_ctes(_N_MERGES) + f"""
    SELECT CAST(rk AS INT) AS rk, pair, pair_count
    FROM ({unions})
    """


@register("q190_bpe_merge_table", oracle=_q190_oracle())
def q190_bpe_merge_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-table training, {_N_MERGES} iterations: the ranked
    merge list (rk, pair, pair_count-at-selection) a tokenizer trainer
    emits — merge #2 can pick a pair CONTAINING merge #1's new symbol,
    which is what the multi-char greedy fold machinery exists for
    (see the section comment for the two-kernel semantics proof)."""
    vocab = word_freqs(load_table(spark, sf_dir, "documents"))
    merges, _ = bpe_train(vocab, _N_MERGES)
    return merges


def _q191_oracle() -> str:
    return _bpe_ctes(_N_MERGES) + f""",
    tc AS (SELECT tok, CAST(SUM(freq) AS BIGINT) AS tok_count
           FROM (SELECT freq, unnest(s) AS tok FROM sym{_N_MERGES})
           GROUP BY tok)
    SELECT tok AS token, tok_count, CAST(rk AS INT) AS rk
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY tok_count DESC, tok)
              AS rk FROM tc)
    WHERE rk <= {_TOP_PAIRS}
    """


@register("q191_bpe_encode_stats", oracle=_q191_oracle())
def q191_bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus encoded with the trained merge table: top-{_TOP_PAIRS}
    TOKENS by corpus frequency after {_N_MERGES} BPE merges — the
    token-distribution head a pipeline inspects before committing to
    a tokenizer (multi-char merged symbols compete with surviving
    single chars). Same iteration machinery as q190; the encode side
    is the final sym frame exploded once, weighted by word freq."""
    vocab = word_freqs(load_table(spark, sf_dir, "documents"))
    _, sym = bpe_train(vocab, _N_MERGES)
    tc = (sym.select("freq", F.explode("s").alias("token"))
          .groupBy("token").agg(F.sum("freq").alias("tok_count")))
    top = tc.orderBy(F.desc("tok_count"), "token").limit(_TOP_PAIRS)
    rk = Window.orderBy(F.desc("tok_count"), "token")
    return top.withColumn("rk", F.row_number().over(rk).cast("int"))


# ---- q192: WordPiece-style pair scoring ----------------------------
#
# The OTHER major subword trainer family (Schuster & Nakajima, ICASSP
# 2012; BERT's tokenizer): instead of BPE's raw pair frequency,
# WordPiece merges the pair maximizing the likelihood ratio
# count(xy) / (count(x) * count(y)) — frequent-but-expected pairs
# ('e' next to anything) lose to genuinely associated ones. Same
# distributed shape as q188 (the corpus-scale op is the word-count
# agg), plus one alphabet-sized unigram frame joined onto the pair
# table twice — bounded by the charset, runtime-guarded broadcast.

_CHARSET_CAP = 4096  # unigram symbols = distinct characters


def _q192_oracle() -> str:
    return r"""
    WITH w AS MATERIALIZED (
        SELECT word, COUNT(*) AS freq
        FROM (SELECT unnest(regexp_split_to_array(text, '\s+')) AS word
              FROM documents WHERE text IS NOT NULL)
        WHERE length(word) >= 2
        GROUP BY word
    ),
    u AS (
        SELECT sym, CAST(SUM(freq) AS BIGINT) AS c
        FROM (SELECT freq, unnest(list_transform(
                  generate_series(1, length(word)),
                  i -> substr(word, i, 1))) AS sym
              FROM w)
        GROUP BY sym
    ),
    p AS (
        SELECT pair, CAST(SUM(freq) AS BIGINT) AS pair_count
        FROM (SELECT unnest(list_transform(
                  generate_series(1, length(word) - 1),
                  i -> substr(word, i, 2))) AS pair, freq
              FROM w)
        GROUP BY pair
    ),
    sc AS (
        SELECT p.pair, p.pair_count,
               CAST(p.pair_count AS DOUBLE) /
                   (CAST(ux.c AS DOUBLE) * CAST(uy.c AS DOUBLE))
                   AS score
        FROM p
        JOIN u ux ON ux.sym = substr(p.pair, 1, 1)
        JOIN u uy ON uy.sym = substr(p.pair, 2, 1)
    )
    SELECT pair, pair_count, score, CAST(rk AS INT) AS rk
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, pair)
              AS rk FROM sc)
    WHERE rk <= 20
    """


@register("q192_wordpiece_scores", oracle=_q192_oracle())
def q192_wordpiece_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 WordPiece merge candidates by likelihood score
    count(xy) / (count(x)·count(y)) — the selection rule that
    distinguishes WordPiece from BPE (q188 ranks the SAME pair table
    by raw count; the two heads differ, which is the point).

    Scale: pair and unigram tables are both vocab-derived; the
    unigram frame is alphabet-sized (distinct characters) and rides a
    runtime-guarded broadcast onto the pair counts twice. The score
    division is (double)pc / ((double)cx · (double)cy) — one IEEE
    multiply + one divide on identical operands in both engines."""
    vocab = word_freqs(load_table(spark, sf_dir, "documents"))
    uni = (
        vocab.select("freq", F.explode(F.expr(
            "transform(sequence(1, length(word)), "
            "i -> substring(word, i, 1))")).alias("sym"))
        .groupBy("sym").agg(F.sum("freq").alias("c"))
    )
    # two joins read the unigram frame — materialize once (q98's
    # localCheckpoint rule), THEN hint: without it each join subplan
    # re-runs the agg and plans its own exchange over the raw scan
    uni = broadcast_bounded(uni.localCheckpoint(), _CHARSET_CAP)
    p = pair_counts(vocab)
    sc = (
        p.join(uni.select(F.col("sym").alias("__x"),
                          F.col("c").alias("cx")),
               F.substring("pair", 1, 1) == F.col("__x"))
        .join(uni.select(F.col("sym").alias("__y"),
                         F.col("c").alias("cy")),
              F.substring("pair", 2, 1) == F.col("__y"))
        .select("pair", "pair_count",
                (F.col("pair_count").cast("double") /
                 (F.col("cx").cast("double") * F.col("cy").cast("double"))
                 ).alias("score"))
    )
    top = sc.orderBy(F.desc("score"), "pair").limit(20)
    rk = Window.orderBy(F.desc("score"), "pair")
    return top.withColumn("rk", F.row_number().over(rk).cast("int"))


# ---- q193: vocabulary coverage curve -------------------------------

_COVER_PCTS = (50, 90, 95, 99)


def _q193_oracle() -> str:
    pcts = ", ".join(str(p) for p in _COVER_PCTS)
    return rf"""
    WITH w AS MATERIALIZED (
        SELECT word, COUNT(*) AS freq
        FROM (SELECT unnest(regexp_split_to_array(text, '\s+')) AS word
              FROM documents WHERE text IS NOT NULL)
        WHERE length(word) >= 2
        GROUP BY word
    ),
    c AS (
        SELECT word, freq,
               SUM(freq) OVER (ORDER BY freq DESC, word) AS cum,
               ROW_NUMBER() OVER (ORDER BY freq DESC, word) AS pos
        FROM w
    ),
    t AS (SELECT SUM(freq) AS total FROM w)
    SELECT g.pct, CAST(MIN(c.pos) AS BIGINT) AS k_words,
           CAST(MIN(c.cum) AS BIGINT) AS covered,
           CAST(MAX(t.total) AS BIGINT) AS total
    FROM c CROSS JOIN t
    CROSS JOIN (SELECT unnest([{pcts}]) AS pct) g
    WHERE c.cum * 100 >= g.pct * t.total
    GROUP BY g.pct
    """


@register("q193_vocab_coverage", oracle=_q193_oracle())
def q193_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: the smallest k such that the top-k
    words (by corpus frequency, word-asc tie-break) cover ≥ pct% of
    all word occurrences, for pct ∈ {_COVER_PCTS} — the Zipf-shaped
    answer to "how big must the vocab be?" every tokenizer budget
    starts from.

    Scale: the cumulative sum over the freq-desc total order runs on
    `with_global_prefix_sums` (range-bucketed two-pass kernel — no
    global single-task window; ≤ 32 scalars of driver traffic), with
    a constant `1` measure doubling as the exact global position.
    The per-pct thresholds are four conditional mins in ONE hash agg
    (cum is monotone along pos, so min(cum | cum ≥ θ) is the value
    AT min(pos | cum ≥ θ) — no join back). Threshold arithmetic is
    exact integers: cum·100 ≥ pct·total."""
    vocab = (word_freqs(load_table(spark, sf_dir, "documents"))
             .withColumn("negfreq", -F.col("freq"))
             .withColumn("__one", F.lit(1).cast("long")))
    cumdf, (total, _n) = with_global_prefix_sums(
        vocab, "negfreq", ["freq", "__one"], tiebreak=["word"],
        cum_cols=["cum", "pos"])
    aggs = []
    for pct in _COVER_PCTS:
        hit = F.col("cum") * 100 >= F.lit(pct) * F.lit(total)
        aggs.append(F.min(F.when(hit, F.col("pos"))).alias(f"k{pct}"))
        aggs.append(F.min(F.when(hit, F.col("cum"))).alias(f"c{pct}"))
    one = cumdf.agg(*aggs)
    stack = ", ".join(f"{p}, k{p}, c{p}" for p in _COVER_PCTS)
    return (
        one.select(F.expr(
            f"stack({len(_COVER_PCTS)}, {stack}) "
            "AS (pct, k_words, covered)"))
        # no-op on any non-empty vocabulary (pct=100 is satisfied by
        # the last row, lower pcts earlier, so every k is non-null);
        # on an EMPTY corpus it matches the oracle's zero rows
        # instead of emitting a 4-row all-null ladder
        # (degenerate-corpus audit, scripts/audit_degenerate.py)
        .filter(F.col("k_words").isNotNull())
        .select(F.col("pct").cast("int"), "k_words", "covered",
                F.lit(total).cast("long").alias("total"))
    )


# ---- q194: OOV rate of a fixed vocabulary on a held-out split -----

_VOCAB_K = 16  # synthetic corpus vocabulary is 30 words; 16 gives real OOV signal


def _q194_oracle() -> str:
    return rf"""
    WITH tr AS MATERIALIZED (
        SELECT word, COUNT(*) AS freq
        FROM (SELECT unnest(regexp_split_to_array(text, '\s+')) AS word
              FROM documents
              WHERE text IS NOT NULL AND doc_id % 10 < 8)
        WHERE length(word) >= 2
        GROUP BY word
    ),
    v AS (
        SELECT word FROM
            (SELECT word, ROW_NUMBER() OVER (ORDER BY freq DESC, word)
                 AS rn FROM tr)
        WHERE rn <= {_VOCAB_K}
    ),
    ev AS (
        SELECT lang, word FROM
            (SELECT lang, unnest(regexp_split_to_array(text, '\s+'))
                 AS word
             FROM documents
             WHERE text IS NOT NULL AND doc_id % 10 >= 8)
        WHERE length(word) >= 2
    )
    SELECT ev.lang,
           CAST(SUM(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS oov_tokens,
           CAST(COUNT(*) AS BIGINT) AS total_tokens,
           CAST(SUM(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END)
                AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS oov_rate
    FROM ev LEFT JOIN v ON v.word = ev.word
    GROUP BY ev.lang
    """


@register("q194_oov_rate", oracle=_q194_oracle())
def q194_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per language: train a top-{_VOCAB_K}
    word vocabulary on the 80% split (doc_id % 10 < 8), measure the
    token-level OOV fraction on the held-out 20% (V={_VOCAB_K}: the
    synthetic corpus draws from a 30-word list, so a half-size vocab
    produces non-degenerate rates; at production scale V is 10^4-10^5
    — the plan does not change) — the generalization
    check run before freezing any tokenizer/vocab (a vocab that fits
    its training slice but misses 30% of fresh tokens is overfit to
    the crawl snapshot).

    Scale: the vocabulary is bounded BY CONSTRUCTION (orderBy+LIMIT →
    TakeOrderedAndProject, per-partition heaps) and rides a
    runtime-guarded broadcast into the token-level left join — the
    eval side is one corpus-scale explode feeding a broadcast hash
    join + per-lang hash agg, no shuffle of the token stream by key.
    The rate division is one IEEE divide on identical BIGINT-cast
    operands in both engines."""
    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("text").isNotNull()
                        & (F.col("doc_id") % 10 < 8))
    vocab = (word_freqs(train)
             .orderBy(F.desc("freq"), "word").limit(_VOCAB_K)
             .select("word", F.lit(1).alias("__hit")))
    vocab = broadcast_bounded(vocab, _VOCAB_K)
    ev = (docs.filter(F.col("text").isNotNull()
                      & (F.col("doc_id") % 10 >= 8))
          .select("lang", F.explode(F.split("text", r"\s+")).alias("word"))
          .filter(F.length("word") >= 2))
    oov = F.sum(F.when(F.col("__hit").isNull(), 1).otherwise(0))
    return (
        ev.join(vocab, "word", "left")
        .groupBy("lang")
        .agg(oov.alias("oov_tokens"),
             F.count(F.lit(1)).alias("total_tokens"))
        .select("lang", "oov_tokens", "total_tokens",
                (F.col("oov_tokens").cast("double")
                 / F.col("total_tokens").cast("double")).alias("oov_rate"))
    )


# ---- q195: lexical corpus-health statistics ------------------------

def _q195_oracle() -> str:
    return r"""
    WITH lw AS MATERIALIZED (
        SELECT lang, word, COUNT(*) AS freq
        FROM (SELECT lang, unnest(regexp_split_to_array(text, '\s+'))
                  AS word
              FROM documents WHERE text IS NOT NULL)
        WHERE length(word) >= 2
        GROUP BY lang, word
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(freq) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN freq = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hapax,
           CAST(COUNT(*) AS DOUBLE) / CAST(SUM(freq) AS DOUBLE)
               AS type_token_ratio
    FROM lw
    GROUP BY lang
    """


@register("q195_lexical_stats", oracle=_q195_oracle())
def q195_lexical_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical corpus-health metrics per language: type count
    (distinct words), token count, hapax legomena (words seen exactly
    once — the Heaps'-law tail a crawl-quality monitor watches: a
    hapax-rate spike means boilerplate explosion or encoding junk),
    and the type-token ratio.

    Scale: one corpus-scale (lang, word) hash agg — map-side
    combinable — then a per-lang re-agg over vocab-sized data; no
    window, no join, no broadcast. The TTR division is one IEEE
    divide on identical BIGINT-cast operands in both engines."""
    docs = load_table(spark, sf_dir, "documents")
    lw = (docs.filter(F.col("text").isNotNull())
          .select("lang", F.explode(F.split("text", r"\s+")).alias("word"))
          .filter(F.length("word") >= 2)
          .groupBy("lang", "word").agg(F.count(F.lit(1)).alias("freq")))
    return (
        lw.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_types"),
             F.sum("freq").alias("n_tokens"),
             F.sum(F.when(F.col("freq") == 1, 1).otherwise(0))
             .alias("n_hapax"))
        .select("lang", "n_types", "n_tokens", "n_hapax",
                (F.col("n_types").cast("double")
                 / F.col("n_tokens").cast("double"))
                .alias("type_token_ratio"))
    )


# ---- q196: concat-and-chunk sequence-packing statistics ------------

_SEQ_LEN = 512


def _q196_oracle() -> str:
    L = _SEQ_LEN
    return rf"""
    WITH d AS MATERIALIZED (
        SELECT doc_id,
               len(list_filter(regexp_split_to_array(text, '\s+'),
                               w -> length(w) >= 2)) AS n_tok
        FROM documents WHERE text IS NOT NULL
    ),
    c AS (
        SELECT doc_id, n_tok,
               SUM(n_tok) OVER (ORDER BY doc_id) AS cum
        FROM d WHERE n_tok > 0
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           CAST((MAX(cum) + {L - 1}) // {L} AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN (cum - n_tok) // {L} <> (cum - 1) // {L}
                         THEN 1 ELSE 0 END) AS BIGINT)
               AS n_crossing_docs,
           CAST(SUM(CASE WHEN (cum - n_tok) // {L} <> (cum - 1) // {L}
                         THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS frac_crossing
    FROM c
    """


@register("q196_pack_stats", oracle=_q196_oracle())
def q196_pack_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk packing statistics at L={_SEQ_LEN}: pack the
    corpus token stream in doc_id order into fixed-length training
    sequences and report how many chunks it fills and how many
    documents straddle a chunk boundary (the fraction whose context
    gets split — the number a pipeline weighs when choosing
    concat-packing vs padded batching).

    Scale: each document's span [cum − n_tok, cum) comes from ONE
    exact prefix sum over the doc_id order via
    `with_global_prefix_sum` (range-bucketed two-pass kernel with
    uniform boundaries — doc_id is a dense key — and ≤ 32 scalars of
    driver traffic); boundary-crossing is then a per-row integer-div
    comparison inside codegen and the output is one global agg row.
    Same machinery as q89's shard packing, answering the utilization
    question instead of the assignment one."""
    from hearthstats_spark.operators.rankops import with_global_prefix_sum

    L = _SEQ_LEN
    docs = load_table(spark, sf_dir, "documents")
    d = (docs.filter(F.col("text").isNotNull())
         .select("doc_id", F.size(F.filter(
             F.split("text", r"\s+"),
             lambda w: F.length(w) >= 2)).alias("n_tok"))
         .filter(F.col("n_tok") > 0)
         # (doc_id, n_tok) is two longs per doc; the kernel's
         # boundary pass, count pass, and final frame would each
         # re-run the corpus-scale tokenize without this
         .localCheckpoint())
    c, _total = with_global_prefix_sum(
        d, "doc_id", "n_tok", cum_col="cum", boundaries="uniform")
    crossing = (F.expr(f"(cum - n_tok) div {L}")
                != F.expr(f"(cum - 1) div {L}")).cast("int")
    return (
        c.agg(F.count(F.lit(1)).alias("n_docs"),
              F.sum("n_tok").alias("total_tokens"),
              F.max("cum").alias("__mx"),
              F.sum(crossing).alias("n_crossing_docs"))
        .select("n_docs", "total_tokens",
                F.expr(f"(__mx + {L - 1}) div {L}").alias("n_chunks"),
                "n_crossing_docs",
                (F.col("n_crossing_docs").cast("double")
                 / F.col("n_docs").cast("double")).alias("frac_crossing"))
    )


# ---- q198: per-source corpus profile (domain-level gating) ---------

def _q198_oracle() -> str:
    return r"""
    WITH h AS MATERIALIZED (
        SELECT doc_id, source, lang, n_chars, md5(text) AS th
        FROM documents WHERE text IS NOT NULL
    ),
    hc AS (SELECT th, COUNT(*) AS c FROM h GROUP BY th)
    SELECT h.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN hc.c > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_docs,
           CAST(SUM(CASE WHEN hc.c > 1 THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS dup_share,
           CAST(COUNT(DISTINCT h.lang) AS BIGINT) AS n_langs,
           CAST(SUM(h.n_chars) AS BIGINT) AS sum_chars
    FROM h JOIN hc ON hc.th = h.th
    GROUP BY h.source
    """


@register("q198_source_profile", oracle=_q198_oracle())
def q198_source_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source (domain) corpus profile: doc count, exact-duplicate
    share (docs whose md5(text) appears more than once CORPUS-WIDE —
    a boilerplate/mirror signal), language spread, and char volume —
    the table a domain-level gating pass ranks before dropping
    mirror-heavy or boilerplate sources (the filter that removes
    whole domains, upstream of per-doc dedup).

    Plan: one corpus-scale hash-count agg on md5(text), one hash join
    back on the hash key (corpus-wide dup status cannot be computed
    within a source partition — a mirror IS a cross-source dup), one
    per-source hash agg. The dup-share division is one IEEE divide on
    identical BIGINT-cast operands in both engines."""
    d = (load_table(spark, sf_dir, "documents")
         .filter(F.col("text").isNotNull())
         .select("doc_id", "source", "lang", "n_chars",
                 F.md5(F.col("text").cast("binary")).alias("th")))
    hc = d.groupBy("th").agg(F.count(F.lit(1)).alias("c"))
    dup = (F.col("c") > 1).cast("int")
    return (
        d.join(hc, "th")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum(dup).cast("long").alias("n_dup_docs"),
             F.count_distinct("lang").alias("n_langs"),
             F.sum("n_chars").alias("sum_chars"))
        .select("source", "n_docs", "n_dup_docs",
                (F.col("n_dup_docs").cast("double")
                 / F.col("n_docs").cast("double")).alias("dup_share"),
                "n_langs", "sum_chars")
    )


# ---- q200: budget-constrained quality curation ----------------------

def _q200_oracle() -> str:
    return r"""
    WITH d AS MATERIALIZED (
        SELECT doc_id, len(string_split(text, ' ')) AS nt,
               ROUND(CAST(len(list_distinct(string_split(text, ' ')))
                          AS DOUBLE)
                     / len(string_split(text, ' ')), 4) AS ttr
        FROM documents WHERE text IS NOT NULL
    ),
    t AS (SELECT SUM(nt) // 4 AS b FROM d),
    c AS (
        SELECT doc_id, nt, ttr,
               SUM(nt) OVER (ORDER BY ttr DESC, doc_id) AS cum
        FROM d
    )
    SELECT CAST(t.b AS BIGINT) AS budget,
           CAST(COUNT(*) AS BIGINT) AS n_selected,
           CAST(SUM(c.nt) AS BIGINT) AS sel_tokens,
           MIN(c.ttr) AS cutoff_ttr
    FROM c CROSS JOIN t
    WHERE c.cum - c.nt < t.b
    GROUP BY t.b
    """


@register("q200_budget_curation", oracle=_q200_oracle())
def q200_budget_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budget-constrained curation: rank every document by quality
    (q57's type-token ratio, doc_id tie-break), fill a token budget
    of 25% of the corpus from the top, and report the selection and
    its quality cutoff — the "which data makes the training mix
    under a token budget" op (selection rule: a doc is taken iff it
    STARTS inside the budget, so the last doc may overflow —
    deterministic and engine-independent).

    Scale: the quality-ordered cumulative token count is ONE exact
    prefix sum via `with_global_prefix_sum` (range-bucketed on the
    negated score — no global single-task sort); the scored
    (doc_id, nt, ttr) frame is localCheckpoint'ed so the kernel's
    three passes don't re-run the corpus-scale tokenize (q196's
    rule). The budget is integer floor-division of the grand total;
    the cutoff is the min TTR among selected rows. TTR is ROUND(·,4)
    in both engines (q57's precedent)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    ttr = F.round(F.size(F.array_distinct(toks)).cast("double")
                  / F.size(toks), 4)
    d = (docs.filter(F.col("text").isNotNull())
         .select("doc_id", F.size(toks).alias("nt"), ttr.alias("ttr"))
         .withColumn("negttr", -F.col("ttr"))
         .localCheckpoint())
    c, total = with_global_prefix_sum(
        d, "negttr", "nt", tiebreak=["doc_id"], cum_col="cum")
    budget = total // 4
    return (
        c.filter(F.col("cum") - F.col("nt") < budget)
        .agg(F.count(F.lit(1)).alias("n_selected"),
             F.sum("nt").cast("long").alias("sel_tokens"),
             F.min("ttr").alias("cutoff_ttr"))
        .select(F.lit(budget).cast("long").alias("budget"),
                "n_selected", "sel_tokens", "cutoff_ttr")
        # no-op whenever anything is selected (any corpus with
        # total >= 4 tokens selects its first doc); degenerate lanes
        # (empty corpus, or total < 4 => budget 0) match the oracle's
        # GROUP BY, which emits zero rows when nothing qualifies
        # (degenerate-corpus audit, scripts/audit_degenerate.py)
        .filter(F.col("n_selected") > 0)
    )
