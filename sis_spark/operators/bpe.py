"""Distributed byte-pair-encoding: vocabulary training and corpus encoding.

Classic word-level BPE (Sennrich et al. 2016): train on the corpus word-
frequency table, each round merging the most frequent adjacent symbol pair.
The reference engine has no tokenizer; this is part of the training-data-
pipeline mandate (token counting with a LEARNED vocab instead of the
whitespace rule of textops.token_stats).

Scale shape (the part that matters at 100 TB):

* training state is the DISTINCT-WORD table (word, freq, symbols array) —
  ~1e8 rows for a web corpus, never the corpus itself;
* each round is one map-side-combined pair-count aggregation plus a
  1-row argmax collect (the learned merge — the model lives on the driver
  because it IS tiny), then a pure-codegen fold that rewrites the symbol
  arrays; localCheckpoint per round caps the compounding lineage
  (plan-shape lesson 8 in NOTES.md);
* encoding joins the corpus against the encoded distinct-word table, so
  the Python merge loop runs once per distinct word, not once per token
  occurrence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.udfs import _map_rows


def word_freq(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) over whitespace tokens — one partial-agg shuffle."""
    return (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def init_vocab(words: DataFrame) -> DataFrame:
    """Add the symbols column: the word split into single characters."""
    return words.withColumn(
        "symbols",
        F.expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"),
    )


def pair_counts(vocab: DataFrame) -> DataFrame:
    """(a, b, cnt): adjacent-symbol pair counts weighted by word freq.

    explode is map-side; the single shuffle is the partial-aggregated
    groupBy on the pair."""
    pairs = vocab.filter(F.size("symbols") >= 2).select(
        "freq",
        F.explode(
            F.expr(
                "transform(sequence(1, size(symbols) - 1), "
                "i -> struct(element_at(symbols, i) AS a, element_at(symbols, i + 1) AS b))"
            )
        ).alias("p"),
    )
    return pairs.groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b")).agg(
        F.sum("freq").alias("cnt")
    )


def _merge_expr(a: str, b: str) -> str:
    """Codegen fold replacing adjacent (a, b) with a||b, left-to-right,
    non-overlapping ('aaa' + merge (a,a) -> ['aa','a']).  State = (result
    array, just-merged flag); the flag stops the freshly merged token from
    immediately re-merging as the left operand."""
    qa = a.replace("'", "\\'")
    qb = b.replace("'", "\\'")
    return (
        "aggregate(symbols, "
        "struct(CAST(array() AS ARRAY<STRING>) AS r, false AS m), "
        "(s, x) -> CASE WHEN NOT s.m AND size(s.r) > 0 "
        f"AND element_at(s.r, -1) = '{qa}' AND x = '{qb}' "
        f"THEN struct(concat(slice(s.r, 1, size(s.r) - 1), array('{qa}{qb}')), true) "
        "ELSE struct(concat(s.r, array(x)), false) END, "
        "s -> s.r)"
    )


def bpe_train(
    docs: DataFrame, num_merges: int, text_col: str = "text"
) -> tuple[list[tuple[str, str]], DataFrame]:
    """Learn ``num_merges`` merges; returns (merges, final vocab DataFrame).

    Tie rule: highest count, then lexicographically smallest (a, b) —
    deterministic across partitionings.  Stops early when no pair remains.
    Per-round driver traffic: the 1-row argmax."""
    vocab = init_vocab(word_freq(docs, text_col)).localCheckpoint()
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        best = (
            pair_counts(vocab)
            .orderBy(F.col("cnt").desc(), F.col("a").asc(), F.col("b").asc())
            .limit(1)
            .collect()
        )
        if not best:
            break
        a, b = best[0]["a"], best[0]["b"]
        merges.append((a, b))
        vocab = vocab.withColumn("symbols", F.expr(_merge_expr(a, b))).localCheckpoint()
    return merges, vocab


def encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Reference encoder: repeatedly apply the lowest-rank applicable merge."""
    syms = list(word)
    while len(syms) >= 2:
        pairs = [(ranks.get((syms[i], syms[i + 1]), None), i) for i in range(len(syms) - 1)]
        ranked = [(r, i) for r, i in pairs if r is not None]
        if not ranked:
            break
        r, _ = min(ranked)
        # apply THIS merge left-to-right, non-overlapping (round semantics)
        a, b = None, None
        for (rr, i) in ranked:
            if rr == r:
                a, b = syms[i], syms[i + 1]
                break
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, n_tokens, n_words) under the learned vocab.

    The merge loop runs Arrow-batched over DISTINCT corpus words only; the
    per-occurrence cost is a broadcast-or-shuffle equi-join on the word."""
    ranks = {p: i for i, p in enumerate(merges)}
    spark = docs.sparkSession
    ranks_b = spark.sparkContext.broadcast(ranks)

    words = docs.select(
        F.explode(F.split(F.col(text_col), " ")).alias("word"), F.col(id_col)
    )
    distinct_words = words.select("word").distinct()

    def enc(row):
        return {"word": row["word"],
                "n_sym": len(encode_word(row["word"], ranks_b.value))}

    encoded = _map_rows(distinct_words, "word string, n_sym long", [], None, enc)
    return (
        words.join(encoded, "word")
        .groupBy(id_col)
        .agg(F.sum("n_sym").alias("n_tokens"), F.count(F.lit(1)).alias("n_words"))
    )


def pair_counts_sql(rel: str = "documents", text: str = "text", top: int = 32) -> str:
    """DuckDB oracle for ROUND-1 pair counts (symbols = characters): the
    gate-able slice of training — later rounds depend on the argmax chain,
    which the pytest differential covers instead."""
    return f"""
WITH wf AS (
  SELECT w AS word, count(*) AS freq
  FROM (SELECT unnest(string_split({text}, ' ')) AS w FROM {rel})
  GROUP BY w),
p AS (
  SELECT substr(word, i.i, 1) AS a, substr(word, i.i + 1, 1) AS b, freq
  FROM wf, UNNEST(range(1, length(word))) AS i(i)
  WHERE length(word) >= 2)
SELECT a, b, CAST(sum(freq) AS BIGINT) AS cnt
FROM p GROUP BY a, b
ORDER BY cnt DESC, a, b
LIMIT {top}"""


def bpe_encode_sql(
    merges: list[tuple[str, str]],
    rel: str = "documents",
    text: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB oracle for ``bpe_encode`` under a FIXED merge table: a
    lockstep recursive CTE carries each distinct word's token LIST; every
    round selects the lowest-rank pair present and merges ALL its
    occurrences at once — legal because every merge has a != b (as token
    strings), so occurrences of one pair can never overlap (s[i+1] = b =
    a would be required).  Terminal rows are those where no merge
    applies; per-doc totals come from the word-occurrence join, exactly
    like the engine's distinct-word discipline."""
    big = len(merges) + 1000

    def rank_case(x: str, y: str) -> str:
        arms = " ".join(
            f"WHEN {x} = '{a}' AND {y} = '{b}' THEN {r}"
            for r, (a, b) in enumerate(merges)
        )
        return f"(CASE {arms} ELSE {big} END)"

    rmin = (
        "coalesce(list_min([" + rank_case("s[i]", "s[i+1]")
        + " FOR i IN range(1, len(s))]), " + str(big) + ")"
    )
    a_case = "(CASE " + " ".join(
        f"WHEN r = {r} THEN '{a}'" for r, (a, _b) in enumerate(merges)
    ) + " END)"
    b_case = "(CASE " + " ".join(
        f"WHEN r = {r} THEN '{b}'" for r, (_a, b) in enumerate(merges)
    ) + " END)"
    return f"""
WITH RECURSIVE w0 AS (
  SELECT DISTINCT unnest(string_split({text}, ' ')) AS word FROM {rel}),
st AS (
  SELECT word, [word[i] FOR i IN range(1, length(word) + 1)] AS s FROM w0
  UNION ALL
  SELECT word,
         [CASE WHEN mm[i] = 1 THEN av || bv ELSE s[i] END
          FOR i IN range(1, len(s) + 1) IF i = 1 OR mm[i - 1] = 0] AS s
  FROM (
    SELECT word, s, av, bv,
           [CASE WHEN i < len(s) AND s[i] = av AND s[i + 1] = bv
                 THEN 1 ELSE 0 END
            FOR i IN range(1, len(s) + 1)] AS mm
    FROM (
      SELECT word, s, {a_case} AS av, {b_case} AS bv
      FROM (SELECT word, s, {rmin} AS r FROM st) q0
      WHERE r < {big}) q1) q2),
fin AS (
  SELECT word, CAST(len(s) AS BIGINT) AS n_sym
  FROM (SELECT word, s, {rmin} AS r FROM st) t WHERE r >= {big}),
occ AS (
  SELECT {id_col}, unnest(string_split({text}, ' ')) AS word FROM {rel})
SELECT o.{id_col}, sum(f.n_sym) AS n_tokens, count(*) AS n_words
FROM occ o JOIN fin f ON f.word = o.word
GROUP BY 1"""
