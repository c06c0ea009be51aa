"""Text analysis for training-data pipelines: tokenization stats, quality
scoring, language ID, document fingerprinting.

These are OUR additions (the reference has no text analytics) — built from
JVM-side Spark functions only (split/length/replace/md5), so they stay in
whole-stage codegen and every op has a bit-exact DuckDB twin for the gate.

The language-ID heuristic and quality score are expressed as shared SQL text
(valid in both Spark SQL and DuckDB) — same trick as synth.py: the semantics
cannot drift between engine and oracle.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.udfs import _map_rows

# stopword marker lists per language for the n-gram/stopword language guesser
LANG_MARKERS = {
    "en": [" the ", " and ", " of "],
    "de": [" der ", " und ", " die "],
    "fr": [" le ", " la ", " et "],
    "es": [" el ", " que ", " los "],
}
LANG_ORDER = ["en", "de", "fr", "es"]  # deterministic tie order


def occurrences_sql(text: str, kw: str) -> str:
    """Occurrence count of a literal substring (both dialects)."""
    esc = kw.replace("'", "''")
    return f"((length({text}) - length(replace({text}, '{esc}', ''))) / {len(kw)})"


def lang_score_sql(text: str, lang: str) -> str:
    padded = f"(' ' || lower({text}) || ' ')"
    return "(" + " + ".join(occurrences_sql(padded, kw) for kw in LANG_MARKERS[lang]) + ")"


def lang_id_sql(text: str) -> str:
    """Predicted language = argmax of marker-stopword counts, 'und' if all 0.

    CASE arms in LANG_ORDER give a deterministic tie rule.  This textual
    form is the ORACLE side; the engine uses :func:`lang_id` below — same
    integer counts, but each score computed once as a column (the inlined
    CASE re-evaluates every replace chain per arm: measured 7x slower in
    Spark at sf0.01)."""
    scores = {lg: lang_score_sql(text, lg) for lg in LANG_ORDER}
    best = f"GREATEST({', '.join(scores.values())})"
    arms = " ".join(f"WHEN {scores[lg]} = __best THEN '{lg}'" for lg in LANG_ORDER)
    return (
        f"(CASE WHEN __best <= 0 THEN 'und' {arms} ELSE 'und' END)"
        .replace("__best", best)
    )


def lang_id(docs: DataFrame, text_col: str = "text",
            out_col: str = "predicted") -> DataFrame:
    """Engine-side language ID: marker scores as columns, argmax CASE over
    the columns.  Catalyst collapses the two selects into one projection
    whose codegen shares each score subexpression — one pass over the text
    per marker instead of one per CASE arm.  Values are bit-identical to
    ``lang_id_sql`` (integer counts, same tie rule)."""
    sel = docs.select(
        "*", *[F.expr(lang_score_sql(text_col, lg)).alias(f"_s_{lg}")
               for lg in LANG_ORDER]
    )
    best = F.greatest(*[F.col(f"_s_{lg}") for lg in LANG_ORDER])
    case = F.when(best <= F.lit(0), "und")
    for lg in LANG_ORDER:
        case = case.when(F.col(f"_s_{lg}") == best, lg)
    return sel.withColumn(out_col, case.otherwise("und")).drop(
        *[f"_s_{lg}" for lg in LANG_ORDER])


def token_stats(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Whitespace token count, char count, punct counts, ratios.

    Ratios are int/int divisions — bit-exact across engines."""
    t = F.col(text_col)
    n_chars = F.length(t)
    n_ws = n_chars - F.length(F.replace(t, F.lit(" "), F.lit("")))
    n_tokens = n_ws + F.lit(1)
    n_punct = (
        n_chars
        - F.length(F.replace(F.replace(F.replace(t, F.lit(".")), F.lit(",")), F.lit("!")))
    )
    return docs.select(
        F.col(id_col),
        n_chars.alias("n_chars_calc"),
        n_tokens.alias("n_tokens"),
        n_punct.alias("n_punct"),
        (n_punct.cast("double") / n_chars.cast("double")).alias("punct_ratio"),
        ((n_chars - n_ws).cast("double") / n_tokens.cast("double")).alias("avg_token_len"),
    )


def token_stats_sql(rel: str = "documents", text: str = "text", id_col: str = "doc_id") -> str:
    n_chars = f"length({text})"
    n_ws = f"(length({text}) - length(replace({text}, ' ', '')))"
    n_tokens = f"({n_ws} + 1)"
    n_punct = f"(length({text}) - length(replace(replace(replace({text}, '.', ''), ',', ''), '!', '')))"
    return f"""
SELECT {id_col},
       {n_chars} AS n_chars_calc,
       {n_tokens} AS n_tokens,
       {n_punct} AS n_punct,
       CAST({n_punct} AS DOUBLE) / CAST({n_chars} AS DOUBLE) AS punct_ratio,
       CAST({n_chars} - {n_ws} AS DOUBLE) / CAST({n_tokens} AS DOUBLE) AS avg_token_len
FROM {rel}"""


def quality_score_sql(text: str) -> str:
    """Composite quality score in [0,1]: rational arithmetic only.

    score = 0.4*len_ok + 0.3*(1 - punct_ratio*10 clamped) + 0.3*stopword_signal
    """
    n_chars = f"length({text})"
    n_ws = f"(length({text}) - length(replace({text}, ' ', '')))"
    n_tokens = f"({n_ws} + 1)"
    punct = f"(length({text}) - length(replace(replace(replace({text}, '.', ''), ',', ''), '!', '')))"
    len_ok = f"(CASE WHEN {n_chars} >= 100 AND {n_chars} <= 10000 THEN 1.0 ELSE 0.0 END)"
    punct_term = f"(1.0 - LEAST(CAST({punct} AS DOUBLE) / CAST({n_chars} AS DOUBLE) * 10.0, 1.0))"
    stop_term = f"LEAST(CAST({lang_score_sql(text, 'en')} AS DOUBLE) / CAST({n_tokens} AS DOUBLE) * 10.0, 1.0)"
    return f"(0.4 * {len_ok} + 0.3 * {punct_term} + 0.3 * {stop_term})"


def fingerprints(docs: DataFrame, k: int = 8, stride: int = 4,
                 text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Character k-gram fingerprinting: md5 of every k-gram at the given
    stride; the document fingerprint is the 4 lexicographically smallest
    hashes (winnowing-style minimum selection)."""
    grams = docs.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.length(F.col(text_col)) - k + 1, F.lit(1)), F.lit(stride)),
                lambda p: F.substring(F.col(text_col), p, k),
            )
        ).alias("g"),
    )
    h = grams.select(id_col, F.md5(F.col("g").cast("binary")).alias("h"))
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("h")
    return (
        h.distinct()
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 4)
        .select(id_col, F.col("rn").alias("fp_rank"), F.col("h").alias("fp"))
    )


def fingerprints_sql(rel: str = "documents", k: int = 8, stride: int = 4,
                     text: str = "text", id_col: str = "doc_id") -> str:
    return f"""
WITH grams AS (
  SELECT {id_col},
         unnest([md5(substr({text}, p, {k}))
                 for p in generate_series(1, greatest(length({text}) - {k} + 1, 1), {stride})]) AS h
  FROM {rel}
),
dist AS (SELECT DISTINCT {id_col}, h FROM grams),
ranked AS (
  SELECT {id_col}, h, row_number() OVER (PARTITION BY {id_col} ORDER BY h) AS rn
  FROM dist)
SELECT {id_col}, rn AS fp_rank, h AS fp FROM ranked WHERE rn <= 4"""


# ---------------------------------------------------------------- sequence packing
# The two packing disciplines of LLM pretraining data prep.  Token counts
# use the whitespace rule of token_stats (n_tokens = spaces + 1) so both
# engines derive identical lengths from the text itself.

def _n_tokens_col(text_col: str):
    t = F.col(text_col)
    return F.length(t) - F.length(F.replace(t, F.lit(" "), F.lit(""))) + F.lit(1)


def pack_stream(docs: DataFrame, capacity: int, shards: int = 8,
                text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Token-STREAM packing (concat-and-split): within each shard the
    documents, in id order, form one token stream cut into fixed-capacity
    context windows; documents straddle window boundaries.  Output per doc:
    (doc_id, shard, n_tokens, start_bin, start_off, end_bin) — where the
    doc's tokens begin and end in the window sequence.

    Pure whole-stage codegen: one window cumsum per shard, integer ``div``
    arithmetic (no FP).  Scale shape: ``shards`` bounds the per-task sort —
    one Spark task per shard, so size shards to the cluster (e.g. 1e4-1e5
    at 100 TB) and each task sorts only its shard."""
    from pyspark.sql import Window

    n_tok = _n_tokens_col(text_col)
    d = docs.select(
        F.col(id_col),
        (F.col(id_col) % shards).alias("shard"),
        n_tok.alias("n_tokens"),
    )
    w = Window.partitionBy("shard").orderBy(id_col)
    d = d.withColumn("cum", F.sum("n_tokens").over(w))
    start = F.col("cum") - F.col("n_tokens")
    return d.select(
        id_col, "shard", "n_tokens",
        F.expr(f"(cum - n_tokens) DIV {capacity}").alias("start_bin"),
        (start % capacity).alias("start_off"),
        F.expr(f"(cum - 1) DIV {capacity}").alias("end_bin"),
    )


def pack_stream_sql(capacity: int, shards: int = 8, rel: str = "documents",
                    text: str = "text", id_col: str = "doc_id") -> str:
    n_tok = f"(length({text}) - length(replace({text}, ' ', '')) + 1)"
    return f"""
WITH d AS (
  SELECT {id_col}, {id_col} % {shards} AS shard, {n_tok} AS n_tokens
  FROM {rel}),
c AS (
  SELECT *, sum(n_tokens) OVER (PARTITION BY shard ORDER BY {id_col}) AS cum
  FROM d)
SELECT {id_col}, shard, n_tokens,
       CAST((cum - n_tokens) // {capacity} AS BIGINT) AS start_bin,
       CAST((cum - n_tokens) % {capacity} AS BIGINT) AS start_off,
       CAST((cum - 1) // {capacity} AS BIGINT) AS end_bin
FROM c"""


def pack_greedy(docs: DataFrame, capacity: int, shards: int = 8,
                text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """First-fit-SEQUENTIAL bin packing (no straddling): within each shard,
    in id order, a document opens a new bin whenever it does not fit in the
    current bin's remaining capacity; an over-long document gets a bin alone.
    Output per doc: (doc_id, shard, bin, off).

    The running-remainder recurrence is not window-expressible, so each
    shard runs as one applyInPandas group (Arrow in, numpy-backed loop over
    int64 arrays); shards bound the per-task state exactly as pack_stream."""
    import numpy as np
    import pandas as pd

    n_tok = _n_tokens_col(text_col)
    d = docs.select(
        F.col(id_col).alias("doc_id"),
        (F.col(id_col) % shards).alias("shard"),
        n_tok.alias("n_tokens"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        lens = pdf["n_tokens"].to_numpy(dtype=np.int64)
        bins = np.zeros(len(lens), dtype=np.int64)
        offs = np.zeros(len(lens), dtype=np.int64)
        b, used = 0, 0
        for i, n in enumerate(lens):
            if used + n > capacity and used > 0:
                b, used = b + 1, 0
            bins[i], offs[i] = b, used
            used += int(n)
        return pd.DataFrame({
            "doc_id": pdf["doc_id"].to_numpy(),
            "shard": pdf["shard"].to_numpy(),
            "n_tokens": lens, "bin": bins, "off": offs,
        })

    return d.groupBy("shard").applyInPandas(
        pack, schema="doc_id long, shard long, n_tokens long, bin long, off long"
    )


def pack_greedy_sql(capacity: int, shards: int = 8, rel: str = "documents",
                    text: str = "text", id_col: str = "doc_id") -> str:
    """DuckDB replica of pack_greedy: the sequential recurrence as a
    RECURSIVE CTE stepping row_number within shard (the graph-oracle
    pattern)."""
    n_tok = f"(length({text}) - length(replace({text}, ' ', '')) + 1)"
    return f"""
WITH RECURSIVE d AS (
  SELECT {id_col} AS doc_id, {id_col} % {shards} AS shard, {n_tok} AS n_tokens,
         row_number() OVER (PARTITION BY {id_col} % {shards} ORDER BY {id_col}) AS rn
  FROM {rel}),
s AS (
  SELECT doc_id, shard, n_tokens, rn,
         CAST(0 AS BIGINT) AS bin, CAST(0 AS BIGINT) AS off,
         n_tokens AS used
  FROM d WHERE rn = 1
  UNION ALL
  SELECT n.doc_id, n.shard, n.n_tokens, n.rn,
         CASE WHEN s.used + n.n_tokens > {capacity} AND s.used > 0
              THEN s.bin + 1 ELSE s.bin END,
         CASE WHEN s.used + n.n_tokens > {capacity} AND s.used > 0
              THEN CAST(0 AS BIGINT) ELSE s.used END,
         CASE WHEN s.used + n.n_tokens > {capacity} AND s.used > 0
              THEN n.n_tokens ELSE s.used + n.n_tokens END
  FROM s JOIN d n ON n.shard = s.shard AND n.rn = s.rn + 1)
SELECT doc_id, shard, n_tokens, bin, off FROM s"""


def repetition_stats(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021 quality rules):
    duplicate-word fraction (1 - distinct/total) and the fraction of word
    bigrams taken by the single most frequent bigram.  High values flag
    boilerplate / degenerate machine text for the quality filter.

    Shape: the per-doc scalars are pure codegen (split/array_distinct);
    only the bigram mode needs a shuffle — explode to (doc, bigram),
    partial-agg count, max per doc.  At 100 TB that is one map-side-combined
    aggregation keyed by doc; no self-joins, no windows over the corpus.
    Docs with fewer than 2 words report 0 repetition (left join + coalesce).
    """
    words = F.split(F.col(text_col), " ")
    base = docs.select(
        F.col(id_col),
        words.alias("__ws"),
        F.size(words).alias("n_words"),
        F.size(F.array_distinct(words)).alias("n_distinct_words"),
    )
    bigrams = base.select(
        F.col(id_col),
        F.explode(
            F.zip_with(
                F.slice("__ws", 1, F.size("__ws") - 1),
                F.slice("__ws", 2, F.size("__ws") - 1),
                lambda a, b: F.concat(a, F.lit(" "), b),
            )
        ).alias("bigram"),
    )
    top = (
        bigrams.groupBy(id_col, "bigram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col)
        .agg(F.max("c").alias("top_bigram_cnt"))
    )
    return (
        base.join(top, id_col, "left")
        .select(
            F.col(id_col),
            "n_words",
            "n_distinct_words",
            (
                F.lit(1.0)
                - F.col("n_distinct_words").cast("double")
                / F.col("n_words").cast("double")
            ).alias("dup_word_frac"),
            F.coalesce(F.col("top_bigram_cnt"), F.lit(0)).alias("top_bigram_cnt"),
            F.when(
                F.col("n_words") >= 2,
                F.coalesce(F.col("top_bigram_cnt"), F.lit(0)).cast("double")
                / (F.col("n_words") - 1).cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("top_bigram_frac"),
        )
    )


def repetition_stats_sql(rel: str = "documents", text: str = "text",
                         id_col: str = "doc_id") -> str:
    """DuckDB twin of repetition_stats: same split, same int/int divisions
    (bit-exact doubles), bigrams via 1-based list indexing over range()."""
    return f"""
WITH w AS (SELECT {id_col}, string_split({text}, ' ') AS ws FROM {rel}),
base AS (SELECT {id_col}, len(ws) AS n_words,
                len(list_distinct(ws)) AS n_distinct_words
         FROM w),
bg AS (SELECT {id_col}, ws[i.i] || ' ' || ws[i.i + 1] AS bigram
       FROM w, UNNEST(range(1, len(ws))) AS i(i)),
top AS (SELECT {id_col}, CAST(max(c) AS BIGINT) AS top_bigram_cnt
        FROM (SELECT {id_col}, bigram, count(*) AS c FROM bg GROUP BY 1, 2)
        GROUP BY 1)
SELECT base.{id_col}, n_words, n_distinct_words,
       1.0 - CAST(n_distinct_words AS DOUBLE) / CAST(n_words AS DOUBLE)
         AS dup_word_frac,
       COALESCE(top_bigram_cnt, 0) AS top_bigram_cnt,
       CASE WHEN n_words >= 2
            THEN CAST(COALESCE(top_bigram_cnt, 0) AS DOUBLE)
                 / CAST(n_words - 1 AS DOUBLE)
            ELSE 0.0 END AS top_bigram_frac
FROM base LEFT JOIN top USING ({id_col})"""


# ---------------------------------------------------------------- decontamination
# Benchmark n-gram decontamination: flag training documents sharing any
# word n-gram with an evaluation/benchmark set (the standard 8-13-gram
# overlap rule of LLM data prep).  The benchmark side is tiny relative to
# the corpus, so its distinct gram hashes BROADCAST; the document side is
# a map-side explode feeding a broadcast hash join — the only shuffle in
# the whole plan is the final per-doc count.  At 100 TB the cost is one
# pass over the text plus one partial-aggregated count, which is the
# minimum any contamination check can pay.

def _ngram_expr(ws_col: str, n: int) -> str:
    """Spark SQL expression: word n-grams of a split-text array column.

    Documents shorter than ``n`` words contribute their whole text as one
    gram (so short benchmark strings still match verbatim copies)."""
    return (
        f"CASE WHEN size({ws_col}) >= {n} "
        f"THEN transform(sequence(1, size({ws_col}) - {n} + 1), "
        f"i -> array_join(slice({ws_col}, i, {n}), ' ')) "
        f"ELSE array(array_join({ws_col}, ' ')) END"
    )


def _ngram_sql(ws: str, n: int) -> str:
    """DuckDB twin of :func:`_ngram_expr` (1-based inclusive list slicing)."""
    return (
        f"CASE WHEN len({ws}) >= {n} "
        f"THEN [array_to_string({ws}[i:i+{n}-1], ' ') for i in range(1, len({ws})-{n}+2)] "
        f"ELSE [array_to_string({ws}, ' ')] END"
    )


def ngrams_hashed(df: DataFrame, n: int, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """One row per word-n-gram position: (id, md5 hex of the gram text).

    Hashing before the join keeps shuffle rows at 32 bytes regardless of
    gram width."""
    d = df.select(F.col(id_col), F.split(F.col(text_col), " ").alias("__ws"))
    return d.select(
        F.col(id_col),
        F.explode(F.expr(_ngram_expr("__ws", n))).alias("__g"),
    ).select(id_col, F.md5(F.col("__g").cast("binary")).alias("h"))


def decontaminate(docs: DataFrame, benchmark: DataFrame, n: int = 8,
                  text_col: str = "text", id_col: str = "doc_id",
                  bench_text_col: str = "text") -> DataFrame:
    """Contaminated-document report: (doc_id, n_hits) for every document
    sharing >= 1 word n-gram with the benchmark set, n_hits = number of
    DISTINCT contaminated grams.  Anti-join the result against the corpus
    to drop (or route to review) the flagged docs."""
    bench_ids = benchmark.select(F.lit(0).alias("__b"), F.col(bench_text_col).alias("text"))
    bh = ngrams_hashed(bench_ids, n, "text", "__b").select("h").distinct()
    dg = ngrams_hashed(docs, n, text_col, id_col)
    return (
        dg.join(F.broadcast(bh), "h")
        .groupBy(id_col)
        .agg(F.count_distinct("h").alias("n_hits"))
    )


def decontaminate_sql(n: int = 8, rel: str = "documents",
                      bench_filter: str = "doc_id % 29 = 3 AND len(ws) >= 20",
                      bench_slice: str = "ws[5:16]",
                      text: str = "text", id_col: str = "doc_id") -> str:
    """DuckDB oracle: benchmark synthesized from the corpus itself by the
    shared rule (docs ``doc_id % 29 = 3`` with >= 20 words donate tokens
    5..16 as a benchmark string), then the same n-gram overlap count."""
    return f"""
WITH w AS (SELECT {id_col}, string_split({text}, ' ') AS ws FROM {rel}),
bench AS (
  SELECT string_split(array_to_string({bench_slice}, ' '), ' ') AS bws
  FROM w WHERE {bench_filter}),
bh AS (
  SELECT DISTINCT unnest({_ngram_sql('bws', n)}) AS g FROM bench),
bhh AS (SELECT md5(g) AS h FROM bh),
dg AS (
  SELECT {id_col}, md5(unnest({_ngram_sql('ws', n)})) AS h FROM w)
SELECT {id_col}, count(DISTINCT dg.h) AS n_hits
FROM dg JOIN (SELECT DISTINCT h FROM bhh) b USING (h)
GROUP BY {id_col}"""


# ---------------------------------------------------------------- hashed linear classifier
# fastText-style quality-classifier INFERENCE at corpus scale: a linear
# model over hashed bag-of-words features.  The real-world version loads
# trained weights (D ~ 2**20 buckets) as a broadcast array; this module
# ships a deterministic 16-bucket weight table so the gate is bit-exact.
# The scoring plan is ZERO-shuffle: aggregate() folds the token array
# inside whole-stage codegen, so classification is a pure map over the
# corpus — the shape you want when scoring 100 TB of text.

CLASSIFIER_BUCKETS = "0123456789abcdef"
CLASSIFIER_WEIGHTS = {c: ((i * 37 + 11) % 29) - 14 for i, c in enumerate(CLASSIFIER_BUCKETS)}


def _weight_case(tok_expr: str, dialect: str) -> str:
    md5 = f"md5(CAST({tok_expr} AS BINARY))" if dialect == "spark" else f"md5({tok_expr})"
    sub = f"substring({md5}, 1, 1)" if dialect == "spark" else f"substr({md5}, 1, 1)"
    arms = " ".join(
        f"WHEN '{c}' THEN {w}" for c, w in CLASSIFIER_WEIGHTS.items()
    )
    return f"(CASE {sub} {arms} ELSE 0 END)"


def classifier_score(docs: DataFrame, threshold: int = 0,
                     text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, score, keep): score = sum over whitespace tokens of the
    hashed-bucket weight; keep = score >= threshold.

    No explode, no shuffle: one codegen projection per document."""
    agg = (
        f"aggregate(split({text_col}, ' '), 0L, "
        f"(acc, t) -> acc + {_weight_case('t', 'spark')})"
    )
    return docs.select(
        F.col(id_col),
        F.expr(agg).alias("score"),
        (F.expr(agg) >= F.lit(threshold)).alias("keep"),
    )


def classifier_score_sql(threshold: int = 0, rel: str = "documents",
                         text: str = "text", id_col: str = "doc_id") -> str:
    """DuckDB twin: unnest + SUM of the identical weight CASE (integer
    arithmetic, bit-exact)."""
    w = _weight_case("t", "duckdb")
    return f"""
WITH tok AS (
  SELECT {id_col}, unnest(string_split({text}, ' ')) AS t FROM {rel}),
s AS (
  SELECT {id_col}, CAST(COALESCE(sum({w}), 0) AS BIGINT) AS score
  FROM tok GROUP BY {id_col})
SELECT {id_col}, score, score >= {threshold} AS keep FROM s"""


# ---------------------------------------------------------------- duplicated-span coverage
# FineWeb/Gopher "fraction of tokens inside duplicated n-grams": for each
# document, the fraction of its tokens covered by word n-grams occurring at
# least min_count times CORPUS-WIDE.  The repetition filter that catches
# boilerplate shared across documents (headers, navigation, license blocks)
# that per-doc stats (repetition_stats) cannot see.

def dup_ngram_coverage(docs: DataFrame, n: int = 4, min_count: int = 2,
                       text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, n_words, covered, dup_ngram_frac).

    covered = union length of the [i, i+n) spans whose gram count >=
    min_count — computed with one per-doc window: span sorted by start
    contributes min(n, i - prev_i) tokens.

    Scale shape: (1) gram hash counts = map-side-combined aggregation;
    (2) grams join the >=min_count survivors on the 32-byte hash (the
    survivor side is usually small enough for AQE to broadcast); (3) the
    interval union is one window over (doc, position).  Three shuffles
    total, none quadratic; positions never leave int64."""
    from pyspark.sql import Window

    d = docs.select(F.col(id_col), F.split(F.col(text_col), " ").alias("__ws"))
    base = d.select(id_col, F.size("__ws").alias("n_words"))
    grams = d.filter(F.size("__ws") >= n).select(
        F.col(id_col),
        F.explode(
            F.expr(
                f"transform(sequence(1, size(__ws) - {n} + 1), "
                f"i -> struct(i AS i, md5(CAST(array_join(slice(__ws, i, {n}), ' ') AS BINARY)) AS h))"
            )
        ).alias("g"),
    ).select(id_col, F.col("g.i").alias("i"), F.col("g.h").alias("h"))
    counts = grams.groupBy("h").agg(F.count(F.lit(1)).alias("cnt"))
    dup = grams.join(counts.filter(F.col("cnt") >= min_count), "h")
    w = Window.partitionBy(id_col).orderBy("i")
    cov = (
        dup.withColumn(
            "cv",
            F.least(
                F.lit(n),
                F.col("i") - F.coalesce(F.lag("i").over(w), F.col("i") - n),
            ),
        )
        .groupBy(id_col)
        .agg(F.sum("cv").alias("covered"))
    )
    return base.join(cov, id_col, "left").select(
        F.col(id_col),
        "n_words",
        F.coalesce(F.col("covered"), F.lit(0)).alias("covered"),
        (
            F.coalesce(F.col("covered"), F.lit(0)).cast("double")
            / F.col("n_words").cast("double")
        ).alias("dup_ngram_frac"),
    )


def dup_ngram_coverage_sql(n: int = 4, min_count: int = 2, rel: str = "documents",
                           text: str = "text", id_col: str = "doc_id") -> str:
    """DuckDB twin: identical positions, hash join, window union arithmetic."""
    return f"""
WITH w AS (SELECT {id_col}, string_split({text}, ' ') AS ws FROM {rel}),
base AS (SELECT {id_col}, len(ws) AS n_words FROM w),
g AS (SELECT {id_col}, i.i AS i, md5(array_to_string(ws[i.i:i.i+{n}-1], ' ')) AS h
      FROM w, UNNEST(range(1, len(ws)-{n}+2)) AS i(i) WHERE len(ws) >= {n}),
c AS (SELECT h, count(*) AS cnt FROM g GROUP BY h),
d AS (SELECT g.{id_col}, g.i,
             least({n}, i - coalesce(lag(i) OVER (PARTITION BY g.{id_col} ORDER BY i), i - {n})) AS cv
      FROM g JOIN c USING (h) WHERE c.cnt >= {min_count}),
cov AS (SELECT {id_col}, CAST(sum(cv) AS BIGINT) AS covered FROM d GROUP BY {id_col})
SELECT base.{id_col}, n_words,
       COALESCE(covered, 0) AS covered,
       CAST(COALESCE(covered, 0) AS DOUBLE) / CAST(n_words AS DOUBLE) AS dup_ngram_frac
FROM base LEFT JOIN cov USING ({id_col})"""


# ---------------------------------------------------------------- tf-idf keyword extraction
# Corpus-level term weighting: tfidf(term, doc) = tf * ln(N / df).  The
# classic keyword-extraction / near-duplicate-features primitive; the df
# table is the same shape as dup_ngram_coverage's gram counts (map-side
# combined aggregation), and the ln() runs as SHARED expression text over
# exact integers so both engines derive identical doubles.

def _tfidf_expr() -> str:
    return "CAST(tf AS DOUBLE) * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE))"


# Java Math.log and DuckDB's libm ln differ by 1 ulp on ~3% of inputs
# (measured at the gate), so the EXPORTED score is floor-quantized at 1e6
# with an irrational offset (bit-exactness playbook rule 3): a 1-ulp input
# wobble (~2e-16 abs) flips the floor only within 2e-10 of a boundary.
def _tfidf_q_expr() -> str:
    return f"CAST(floor({_tfidf_expr()} * 1.0E6 + 0.12345678987) AS BIGINT)"


def tfidf_topk(docs: DataFrame, k: int = 3, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Top-k terms per document by tf-idf: (doc_id, term, tf, df, n_docs,
    tfidf, rank).  Ties broken by term text so the selection is total.

    Scale shape: explode -> two keyed aggregations (term-frequency per doc,
    document-frequency per term) -> equi-join on term (AQE broadcasts the
    df side when the vocabulary is small) -> one window on the doc key.
    N joins in as a broadcast single-row aggregate, never a collect."""
    from pyspark.sql import Window

    words = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("term")
    )
    tf = words.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_t, "term")
        .crossJoin(F.broadcast(n))
        .withColumn("tfidf", F.expr(_tfidf_expr()))
    )
    w = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            id_col, "term", "tf", "df", "n_docs",
            F.expr(_tfidf_q_expr()).alias("tfidf_q"),
            "rank",
        )
    )


def tfidf_topk_sql(k: int = 3, rel: str = "documents", text: str = "text",
                   id_col: str = "doc_id") -> str:
    return f"""
WITH words AS (
  SELECT {id_col}, unnest(string_split({text}, ' ')) AS term FROM {rel}),
tf AS (SELECT {id_col}, term, CAST(count(*) AS BIGINT) AS tf
       FROM words GROUP BY {id_col}, term),
dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM {rel}),
scored AS (
  SELECT tf.{id_col}, tf.term, tf.tf, dft.df, n.n_docs,
         {_tfidf_expr()} AS tfidf
  FROM tf JOIN dft USING (term) CROSS JOIN n),
ranked AS (
  SELECT *, CAST(row_number() OVER (
      PARTITION BY {id_col} ORDER BY tfidf DESC, term) AS BIGINT) AS rank
  FROM scored)
SELECT {id_col}, term, tf, df, n_docs,
       {_tfidf_q_expr()} AS tfidf_q, rank
FROM ranked WHERE rank <= {k}"""


# ---------------------------------------------------------------- PII redaction
# Training-corpus scrubbing: emails / IPv4 / international phone numbers
# replaced by typed tokens, with pre-redaction match counts for audit
# metrics.  Patterns are deliberately restricted to the regex subset whose
# semantics are IDENTICAL in Java regex (Spark codegen) and RE2 (DuckDB):
# ASCII classes, bounded quantifiers, \d, \b — no lookaround, no lazy
# quantifiers, no unicode classes.  Pure JVM regexp_replace/regexp_count —
# zero shuffles, the map-only scan-cost shape a 100 TB scrub needs.

PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+\d{7,15}\b", "<PHONE>"),
)


def redact_pii(docs: DataFrame, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """(id, n_email, n_ip, n_phone, redacted): counts measured on the
    original text, then patterns applied in declaration order (email first:
    an address would otherwise lose its host to the IP rule)."""
    out = docs.select(
        F.col(id_col),
        *[
            F.regexp_count(F.col(text_col), F.lit(pat)).alias(f"n_{name}")
            for name, pat, _ in PII_PATTERNS
        ],
        F.col(text_col).alias("redacted"),
    )
    for _, pat, tok in PII_PATTERNS:
        out = out.withColumn("redacted", F.regexp_replace("redacted", pat, tok))
    return out


def redact_pii_sql(rel: str = "documents", text: str = "text",
                   id_col: str = "doc_id") -> str:
    counts = ", ".join(
        f"CAST(len(regexp_extract_all({text}, '{pat}')) AS INTEGER) AS n_{name}"
        for name, pat, _ in PII_PATTERNS
    )
    red = text
    for _, pat, tok in PII_PATTERNS:
        red = f"regexp_replace({red}, '{pat}', '{tok}', 'g')"
    return f"SELECT {id_col}, {counts}, {red} AS redacted FROM {rel}"


# ---------------------------------------------------------------- n-gram LM fluency
# Perplexity-style fluency filtering (the KenLM-score step of CCNet-style
# curation pipelines) with EXACT distributed semantics: the corpus itself is
# the language model (bigram counts), and the per-bigram log-probability is
# the integer log2 floor  bitlen(c(w1,w2)) - bitlen(c(w1 .))  computed via
# length(bin(n)) — exact in Spark AND DuckDB, no libm (ln differs by 1 ulp
# between JVM and libm on ~3% of inputs, the tfidf lesson).  Monotone in the
# true MLE log-prob up to quantization, which is all a rank-and-threshold
# quality filter consumes.
#
# Plan: one explode pass over the corpus, ONE bigram-count shuffle (the
# prefix counts reduce from the bigram counts, k rows), then a count-table
# equi-join back and a per-doc aggregation — the minimum any corpus-LM
# scoring pays.  At web scale the count table is the standard n-gram-LM
# artifact; cap it with countmin_build (operators/sketches.py) when the
# vocabulary outgrows a join side.


def _bigrams(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    d = docs.select(F.col(id_col), F.split(F.col(text_col), " ").alias("__ws"))
    return (
        d.filter(F.expr("size(__ws) >= 2"))
        .select(
            F.col(id_col),
            F.explode(
                F.expr(
                    "transform(sequence(1, size(__ws) - 1), "
                    "i -> struct(element_at(__ws, i) AS w1, "
                    "element_at(__ws, i + 1) AS w2))"
                )
            ).alias("g"),
        )
        .select(id_col, "g.w1", "g.w2")
    )


def ngram_lm_score(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, n_bigrams, score_sum, fluency) per document with >= 1 bigram:
    score_sum = sum over bigrams of bitlen(c2) - bitlen(c1),
    fluency = score_sum / n_bigrams (int/int -> double, bit-exact)."""
    bg = _bigrams(docs, text_col, id_col)
    c2 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    term = (F.length(F.bin("c2")) - F.length(F.bin("c1"))).cast("long")
    return (
        bg.join(c2, ["w1", "w2"]).join(c1, "w1")
        .select(F.col(id_col), term.alias("t"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("t").alias("score_sum"),
        )
        .select(
            id_col, "n_bigrams", "score_sum",
            (F.col("score_sum") / F.col("n_bigrams")).alias("fluency"),
        )
    )


def ngram_lm_score_sql(
    rel: str = "documents", text: str = "text", id_col: str = "doc_id"
) -> str:
    """DuckDB replay of ngram_lm_score (same bigrams, counts, bit lengths)."""
    return f"""
WITH w AS (SELECT {id_col}, string_split({text}, ' ') AS ws FROM {rel}),
bg AS (
  SELECT {id_col}, u.g.w1 AS w1, u.g.w2 AS w2 FROM (
    SELECT {id_col},
           unnest([struct_pack(w1 := ws[i], w2 := ws[i+1])
                   for i in range(1, len(ws))]) AS g
    FROM w WHERE len(ws) >= 2) u),
c2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM bg GROUP BY 1, 2),
c1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
terms AS (
  SELECT bg.{id_col},
         CAST(length(bin(c2.c2)) - length(bin(c1.c1)) AS BIGINT) AS t
  FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1))
SELECT {id_col}, CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(t) AS BIGINT) AS score_sum,
       sum(t) / count(*) AS fluency
FROM terms GROUP BY {id_col}"""


def collocations(
    docs: DataFrame,
    min_count: int = 3,
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k collocations (PMI-ordered bigrams) -> (w1, w2, c12, score).

    PMI = log(c12 * N / (c1 * c2)) is monotone in its argument, so the
    ranking uses the EXACT integer score c12 * N * 2^20 div (c1 * c2) —
    no logarithm, no floats, identical in any engine.  One bigram count,
    one unigram count, a broadcast-size join of the surviving bigrams;
    ties -> (w1, w2) lexicographic."""
    from pyspark.sql import Window

    bg = _bigrams(docs, text_col, id_col)
    c12 = (
        bg.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .filter(F.col("c12") >= min_count)
    )
    toks = docs.select(
        F.explode(F.split(F.col(text_col), " ")).alias("w")
    )
    uni = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    n_total = toks.count()
    scored = (
        c12.join(uni.select(F.col("w").alias("w1"), F.col("c").alias("c1")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c").alias("c2")), "w2")
        .select(
            "w1", "w2", "c12",
            F.expr(
                f"(c12 * CAST({n_total} AS BIGINT) * CAST({1 << 20} AS BIGINT))"
                " div (c1 * c2)"
            ).alias("score"),
        )
    )
    w = Window.orderBy(F.col("score").desc(), F.col("w1"), F.col("w2"))
    return (
        scored.withColumn("pos", F.row_number().over(w).cast("long"))
        .filter(F.col("pos") <= k)
        .select("pos", "w1", "w2", "c12", "score")
        .orderBy("pos")
    )


def collocations_sql(
    min_count: int = 3,
    k: int = 20,
    rel: str = "documents",
    text: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB replay of collocations — identical counts, integer score."""
    return f"""
WITH w AS (SELECT {id_col}, string_split({text}, ' ') AS ws FROM {rel}),
bg AS (
  SELECT u.g.w1 AS w1, u.g.w2 AS w2 FROM (
    SELECT unnest([struct_pack(w1 := ws[i], w2 := ws[i+1])
                   for i in range(1, len(ws))]) AS g
    FROM w WHERE len(ws) >= 2) u),
c12 AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bg GROUP BY 1, 2
  HAVING count(*) >= {min_count}),
toks AS (SELECT unnest(ws) AS tok FROM w),
uni AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY 1),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM toks),
scored AS (
  SELECT c12.w1, c12.w2, c12.c12,
         (c12.c12 * nn.n * {1 << 20}) // (u1.c * u2.c) AS score
  FROM c12, nn
  JOIN uni u1 ON u1.tok = c12.w1
  JOIN uni u2 ON u2.tok = c12.w2)
SELECT pos, w1, w2, c12, score FROM (
  SELECT w1, w2, c12, score,
         CAST(row_number() OVER (ORDER BY score DESC, w1, w2) AS BIGINT) AS pos
  FROM scored) t
WHERE pos <= {k} ORDER BY pos"""


# ---------------------------------------------------------------- BM25
# Okapi BM25 ranked retrieval (Robertson/Sparck Jones, public literature) —
# the ranking function a corpus-search / relevance-filter stage uses where
# tf-idf is too crude.  k1 and b are RATIONALS (defaults 6/5 and 3/4), so
# the per-term factor tf*(k1+1) / (tf + k1*(1-b) + k1*b*dl*N/total) is an
# exact integer fraction after multiplying through by 10*total:
#
#     num = 22 * tf * total          den = 10*tf*total + 3*total + 9*dl*N
#
# Only the idf ln() is floating point; contributions are floor-quantized at
# 1e6 with the irrational offset (tf-idf lesson) BEFORE the per-document
# sum, so the sum is an order-independent int64.


def _bm25_contrib_expr() -> str:
    idf = (
        "ln(CAST(2 * n_docs - 2 * df + 1 AS DOUBLE)"
        " / CAST(2 * df + 1 AS DOUBLE))"
    )
    frac = (
        "CAST(22 * tf * total_len AS DOUBLE) / "
        "CAST(10 * tf * total_len + 3 * total_len + 9 * dl * n_docs"
        " AS DOUBLE)"
    )
    return f"CAST(floor({idf} * {frac} * 1.0E6 + 0.12345678987) AS BIGINT)"


def bm25_topk(
    docs: DataFrame,
    queries: dict[int, tuple[str, ...]],
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k documents per query by BM25 -> (qid, doc_id, n_matched,
    score_q, rank).  Ties broken by doc_id.

    Scale shape: explode -> tf/df/dl keyed aggs (map-side combined) ->
    broadcast query-term join (query sets are tiny by construction) ->
    one (qid, doc) aggregation -> one window per qid.  Corpus totals join
    in as a broadcast single-row aggregate — nothing collects."""
    from pyspark.sql import Window

    spark = docs.sparkSession
    words = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("term")
    )
    tf = words.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    dl = words.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs")).crossJoin(
        words.agg(F.count(F.lit(1)).alias("total_len"))
    )
    qdf = spark.createDataFrame(
        [(qid, t) for qid, terms in queries.items() for t in terms],
        ["qid", "term"],
    )
    scored = (
        F.broadcast(qdf)
        .join(tf, "term")
        .join(df_t, "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(n))
        .withColumn("contrib", F.expr(_bm25_contrib_expr()))
    )
    per_doc = scored.groupBy("qid", id_col).agg(
        F.count(F.lit(1)).alias("n_matched"),
        F.sum("contrib").alias("score_q"),
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("score_q").desc(), F.col(id_col)
    )
    return (
        per_doc.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("qid", id_col, "n_matched", "score_q", "rank")
    )


def bm25_topk_sql(
    queries: dict[int, tuple[str, ...]],
    k: int = 10,
    rel: str = "documents",
    text: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB replay of ``bm25_topk`` — identical integer fraction and the
    same ln() expression text, quantized before the sum."""
    vals = ", ".join(
        f"({qid}, '{t}')" for qid, terms in queries.items() for t in terms
    )
    return f"""
WITH words AS (
  SELECT {id_col}, unnest(string_split({text}, ' ')) AS term FROM {rel}),
tf AS (SELECT {id_col}, term, CAST(count(*) AS BIGINT) AS tf
       FROM words GROUP BY 1, 2),
dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
dl AS (SELECT {id_col}, CAST(count(*) AS BIGINT) AS dl FROM words GROUP BY 1),
n AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM {rel}) AS n_docs,
             (SELECT CAST(count(*) AS BIGINT) FROM words) AS total_len),
q(qid, term) AS (VALUES {vals}),
scored AS (
  SELECT q.qid, tf.{id_col}, {_bm25_contrib_expr()} AS contrib
  FROM q JOIN tf USING (term) JOIN dft USING (term)
       JOIN dl ON dl.{id_col} = tf.{id_col} CROSS JOIN n),
per_doc AS (
  SELECT qid, {id_col}, CAST(count(*) AS BIGINT) AS n_matched,
         CAST(sum(contrib) AS BIGINT) AS score_q
  FROM scored GROUP BY 1, 2),
ranked AS (
  SELECT *, CAST(row_number() OVER (
      PARTITION BY qid ORDER BY score_q DESC, {id_col}) AS BIGINT) AS rank
  FROM per_doc)
SELECT qid, {id_col}, n_matched, score_q, rank FROM ranked
WHERE rank <= {k}"""


# ------------------------------------------------------------ token entropy
# Shannon entropy of each document's token distribution — the classic
# vocabulary-diversity quality signal (low entropy = repetitive/spammy).
# H = sum over terms of (tf/dl) * ln(dl/tf).  Each term's contribution is
# floor-quantized at 1e6 with the irrational offset BEFORE the per-doc sum
# (identical double expression text in both engines; the tf-idf 1-ulp
# lesson), so the sum is an order-independent int64.


def _entropy_contrib_expr() -> str:
    return (
        "CAST(floor((CAST(tf AS DOUBLE) / CAST(dl AS DOUBLE))"
        " * ln(CAST(dl AS DOUBLE) / CAST(tf AS DOUBLE))"
        " * 1.0E6 + 0.12345678987) AS BIGINT)"
    )


def token_entropy(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document token-distribution entropy -> (doc_id, dl, n_terms,
    entropy_q).  One explode + two keyed aggregations, all map-side
    combinable — the scan-cost shape of every other text-quality signal."""
    words = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("term")
    )
    tf = words.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = words.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    return (
        tf.join(dl, id_col)
        .withColumn("contrib", F.expr(_entropy_contrib_expr()))
        .groupBy(id_col)
        .agg(
            F.min("dl").alias("dl"),
            F.count(F.lit(1)).alias("n_terms"),
            F.sum("contrib").alias("entropy_q"),
        )
    )


def token_entropy_sql(
    rel: str = "documents",
    text: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB replay of ``token_entropy``."""
    return f"""
WITH words AS (
  SELECT {id_col}, unnest(string_split({text}, ' ')) AS term FROM {rel}),
tf AS (SELECT {id_col}, term, CAST(count(*) AS BIGINT) AS tf
       FROM words GROUP BY 1, 2),
dl AS (SELECT {id_col}, CAST(count(*) AS BIGINT) AS dl
       FROM words GROUP BY 1)
SELECT tf.{id_col},
       CAST(min(dl.dl) AS BIGINT) AS dl,
       CAST(count(*) AS BIGINT) AS n_terms,
       CAST(sum({_entropy_contrib_expr()}) AS BIGINT) AS entropy_q
FROM tf JOIN dl ON dl.{id_col} = tf.{id_col}
GROUP BY 1"""


# ---------------------------------------------------------------- URL parsing
# Web-scale corpora carry URLs on every document; splitting them into
# scheme/host/path/query (and the host's registrable tail) is the first
# step of domain-level dedup, quality weighting and robots filtering.
# Patterns stay inside the regex subset whose semantics are identical in
# Java regex (Spark codegen) and RE2 (DuckDB) — the redact_pii rule: ASCII
# classes, no lookaround, no lazy quantifiers.

URL_PATTERNS = {
    "scheme": "^([a-z][a-z0-9+.-]*)://",
    "host": "^[a-z][a-z0-9+.-]*://([^/?#]+)",
    "path": "^[a-z][a-z0-9+.-]*://[^/?#]+(/[^?#]*)",
    "query": r"\?([^#]*)",
    "tld": r"\.([a-z0-9-]+)$",  # applied to the host, not the url
}


def url_parse(
    df: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """Split URLs -> (id, url, scheme, host, path, query, tld) — pure JVM
    regexp_extract codegen, zero shuffles (the scan-cost shape)."""
    u = F.col(url_col)
    host = F.regexp_extract(u, URL_PATTERNS["host"], 1)
    return df.select(
        F.col(id_col),
        u.alias("url"),
        F.regexp_extract(u, URL_PATTERNS["scheme"], 1).alias("scheme"),
        host.alias("host"),
        F.regexp_extract(u, URL_PATTERNS["path"], 1).alias("path"),
        F.regexp_extract(u, URL_PATTERNS["query"], 1).alias("query"),
        F.regexp_extract(host, URL_PATTERNS["tld"], 1).alias("tld"),
    )


def url_parse_sql(base_select: str, url_col: str = "url",
                  id_col: str = "doc_id") -> str:
    """DuckDB replay of ``url_parse`` (regexp_extract group semantics and
    the empty-string-on-no-match convention agree for this subset)."""
    u = url_col
    host = f"regexp_extract({u}, '{URL_PATTERNS['host']}', 1)"
    return f"""
SELECT {id_col}, {u} AS url,
       regexp_extract({u}, '{URL_PATTERNS["scheme"]}', 1) AS scheme,
       {host} AS host,
       regexp_extract({u}, '{URL_PATTERNS["path"]}', 1) AS path,
       regexp_extract({u}, '\\?([^#]*)', 1) AS query,
       regexp_extract({host}, '\\.([a-z0-9-]+)$', 1) AS tld
FROM ({base_select}) s"""


# ------------------------------------------------------------------- LCS
# Longest common subsequence length between token sequences (Wagner/Fischer
# 1974 recurrence, public literature) — the order-aware text-similarity
# companion to the set-based Jaccard/MinHash family.  The DP is pure integer
# (cell = diag+1 on a token match, else max(up, left)), swept by
# ANTI-DIAGONAL exactly like the Fréchet/DTW joins in trajectory.py: diag k
# depends only on diags k-1 and k-2, so the engine runs O(na+nb) vectorized
# numpy rounds per pair and the oracle is a lockstep recursive CTE carrying
# two LIST columns.  Out-of-range predecessors are the LCS identity 0 (the
# int64-max sentinel's mirror image under max instead of min).


def _lcs_diag(a, b) -> int:
    """Anti-diagonal vectorized LCS length — O(na+nb) numpy rounds."""
    import numpy as np

    a = np.asarray(a, np.int64)
    b = np.asarray(b, np.int64)
    na, nb = len(a), len(b)
    if na == 0 or nb == 0:
        return 0
    d1 = d2 = None
    lo1 = lo2 = 0
    for k in range(na + nb - 1):
        lo = max(0, k - nb + 1)
        hi = min(k, na - 1)
        i = np.arange(lo, hi + 1)
        j = k - i
        eq = a[i] == b[j]
        if k == 0:
            cur = eq.astype(np.int64)
        else:
            def pick(diag, dlo, ii):
                idx = ii - dlo
                ok = (idx >= 0) & (idx < len(diag))
                return np.where(ok, diag[np.clip(idx, 0, len(diag) - 1)], 0)

            p1 = np.where(i >= 1, pick(d1, lo1, i - 1), 0)  # L[i-1][j]
            p2 = np.where(j >= 1, pick(d1, lo1, i), 0)      # L[i][j-1]
            if d2 is not None:
                p3 = np.where(
                    (i >= 1) & (j >= 1), pick(d2, lo2, i - 1), 0
                )  # L[i-1][j-1]
            else:
                p3 = np.zeros_like(i)
            cur = np.where(eq, p3 + 1, np.maximum(p1, p2))
        d2, lo2 = d1, lo1
        d1, lo1 = cur, lo
    return int(d1[0])


def lcs_dense(a, b) -> int:
    """Single-node reference: the textbook O(na*nb) cell recurrence."""
    na, nb = len(a), len(b)
    f = [[0] * (nb + 1) for _ in range(na + 1)]
    for i in range(1, na + 1):
        for j in range(1, nb + 1):
            if a[i - 1] == b[j - 1]:
                f[i][j] = f[i - 1][j - 1] + 1
            else:
                f[i][j] = max(f[i - 1][j], f[i][j - 1])
    return f[na][nb]


def lcs_join(
    seqs: DataFrame,
    pairs: DataFrame,
    key_col: str = "k",
    order_col: str = "o",
    tok_col: str = "tok",
) -> DataFrame:
    """LCS length for every (a, b) pair -> (a, b, na, nb, lcs).

    ``seqs``: (key, order, token) int64 token rows; ``pairs``: (a, b) key
    pairs to score (the candidate set — a bucketed prefilter's output at
    scale, e.g. MinHash bands; scoring all pairs is the caller's explicit
    choice).  Scale shape: two equi-joins replicate each sequence once per
    pair (bounded fan-out), then ONE applyInPandas group per pair runs the
    O(na+nb) diagonal sweep — no driver participation, state linear in
    sequence length (the frechet_join execution shape)."""
    import pandas as pd

    s = seqs.select(
        F.col(key_col).alias("k"),
        F.col(order_col).alias("o"),
        F.col(tok_col).alias("tok"),
    )
    pa = pairs.join(s, s["k"] == pairs["a"]).select(
        "a", "b", F.lit(0).alias("side"), "o", "tok"
    )
    pb = pairs.join(s, s["k"] == pairs["b"]).select(
        "a", "b", F.lit(1).alias("side"), "o", "tok"
    )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["side", "o"], kind="mergesort")
        am = pdf[pdf["side"] == 0]["tok"].to_numpy()
        bm = pdf[pdf["side"] == 1]["tok"].to_numpy()
        return pd.DataFrame(
            [{
                "a": pdf["a"].iloc[0], "b": pdf["b"].iloc[0],
                "na": len(am), "nb": len(bm), "lcs": _lcs_diag(am, bm),
            }]
        )

    return (
        pa.union(pb)
        .groupBy("a", "b")
        .applyInPandas(fn, schema="a long, b long, na long, nb long, lcs long")
    )


def lcs_join_sql(seqs_select: str, pairs_select: str) -> str:
    """DuckDB oracle for ``lcs_join``: the identical anti-diagonal DP as a
    lockstep recursive CTE — state per pair is two diagonal LISTs; every
    pair advances one diagonal per round; out-of-range predecessors are 0.

    ``seqs_select`` -> (k, o, tok); ``pairs_select`` -> (a, b)."""
    # positions are 1-based; in the lambda, j = (k + 1) - i
    p1 = "CASE WHEN i >= 1 THEN d1[i - greatest(0, k - nb + 1)] ELSE 0 END"
    p2 = (
        "CASE WHEN k + 1 - i >= 1 THEN d1[i + 1 - greatest(0, k - nb + 1)] "
        "ELSE 0 END"
    )
    p3 = (
        "CASE WHEN i >= 1 AND k + 1 - i >= 1 "
        "THEN d2[i - greatest(0, k - nb)] ELSE 0 END"
    )
    step = (
        f"CASE WHEN ax[i + 1] = bx[k + 2 - i] THEN ({p3}) + 1 "
        f"ELSE greatest({p1}, {p2}) END"
    )
    return f"""
WITH RECURSIVE sq AS ({seqs_select}),
prs AS ({pairs_select}),
tracks AS (
  SELECT k AS tk, list(tok ORDER BY o) AS xs,
         CAST(count(*) AS BIGINT) AS n
  FROM sq GROUP BY 1),
init AS (
  SELECT prs.a, prs.b, ta.xs AS ax, tb.xs AS bx, ta.n AS na, tb.n AS nb
  FROM prs JOIN tracks ta ON ta.tk = prs.a JOIN tracks tb ON tb.tk = prs.b),
st(a, b, ax, bx, na, nb, k, d1, d2) AS (
  SELECT a, b, ax, bx, na, nb, 0,
         [CASE WHEN ax[1] = bx[1] THEN CAST(1 AS BIGINT)
               ELSE CAST(0 AS BIGINT) END],
         CAST([] AS BIGINT[])
  FROM init
  UNION ALL
  SELECT a, b, ax, bx, na, nb, k + 1,
         list_transform(
           range(greatest(0, k + 2 - nb), least(k + 1, na - 1) + 1),
           i -> {step}),
         d1
  FROM st WHERE k + 1 <= na + nb - 2),
fin AS (SELECT a, b, na, nb, d1[1] AS lcs FROM st WHERE k = na + nb - 2)
SELECT a, b, na, nb, CAST(lcs AS BIGINT) AS lcs FROM fin"""


def doc_cosine_pairs(
    docs: DataFrame,
    max_df: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Document-document cosine similarity over the df-capped vocabulary ->
    (a, b, dot, na2, nb2): tf vectors restricted to tokens appearing in at
    most ``max_df`` documents (the classic stop-token cut), inner products
    and squared norms EXACT int64 — cosine stays the rational
    dot / sqrt(na2 * nb2) for the caller.

    Scale shape: candidate pairs come only from shared rare tokens (one
    posting-list self-join with fan-out <= max_df per token — the
    jaccard_pairs lesson applied at design time: the df cap bounds the
    quadratic term by construction), then two broadcast-sized norm joins."""
    toks = (
        docs.select(
            F.col(id_col).alias("id"),
            F.explode(F.split(F.col(text_col), " ")).alias("t"),
        )
        .groupBy("id", "t")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = toks.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    kept = toks.join(
        dfreq.filter(F.col("df") <= int(max_df)).select("t"), "t"
    )
    norms = kept.groupBy("id").agg(
        F.sum(F.col("tf") * F.col("tf")).alias("n2")
    )
    l, r = kept.alias("l"), kept.alias("r")
    pairs = (
        l.join(r, (F.col("l.t") == F.col("r.t")) & (F.col("l.id") < F.col("r.id")))
        .groupBy(F.col("l.id").alias("a"), F.col("r.id").alias("b"))
        .agg(F.sum(F.col("l.tf") * F.col("r.tf")).alias("dot"))
    )
    return (
        pairs.join(norms.select(F.col("id").alias("a"), F.col("n2").alias("na2")), "a")
        .join(norms.select(F.col("id").alias("b"), F.col("n2").alias("nb2")), "b")
        .select("a", "b", "dot", "na2", "nb2")
    )


def doc_cosine_pairs_sql(
    base_select: str,
    max_df: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB replay of ``doc_cosine_pairs`` (same space-split tokens)."""
    return f"""
WITH tk AS (
  SELECT {id_col} AS id, unnest(string_split({text_col}, ' ')) AS t
  FROM ({base_select}) s),
toks AS (SELECT id, t, CAST(count(*) AS BIGINT) AS tf FROM tk GROUP BY 1, 2),
kept AS (
  SELECT toks.* FROM toks
  JOIN (SELECT t FROM toks GROUP BY t HAVING count(*) <= {int(max_df)}) rare
    USING (t)),
norms AS (SELECT id, CAST(sum(tf * tf) AS BIGINT) AS n2 FROM kept GROUP BY 1),
prs AS (
  SELECT l.id AS a, r.id AS b, CAST(sum(l.tf * r.tf) AS BIGINT) AS dot
  FROM kept l JOIN kept r ON r.t = l.t AND l.id < r.id
  GROUP BY 1, 2)
SELECT p.a, p.b, p.dot, sa.n2 AS na2, sb.n2 AS nb2
FROM prs p JOIN norms sa ON sa.id = p.a JOIN norms sb ON sb.id = p.b"""


def url_canonical(
    df: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """Canonical URL dedup key -> (id, url, canon): lowercase host,
    leading ``www.`` stripped, query/fragment dropped, one trailing
    slash removed, empty path -> ``/`` — the normalization a web-crawl
    dedup keys on before any content hashing.  Pure codegen string ops
    (regexp_extract + CASE/substr — no dialect-divergent trim), zero
    shuffles."""
    u = F.col(url_col)
    host = F.lower(F.regexp_extract(u, URL_PATTERNS["host"], 1))
    host_c = F.when(
        host.startswith("www."), F.expr(f"substr(lower(regexp_extract({url_col}, '{URL_PATTERNS['host']}', 1)), 5)")
    ).otherwise(host)
    path = F.regexp_extract(u, URL_PATTERNS["path"], 1)
    path_c = F.when(
        path.endswith("/") & (F.length(path) > 1),
        F.expr(f"substr(regexp_extract({url_col}, '{URL_PATTERNS['path']}', 1), 1, length(regexp_extract({url_col}, '{URL_PATTERNS['path']}', 1)) - 1)"),
    ).otherwise(path)
    canon = F.concat(
        host_c, F.when(path_c == "", F.lit("/")).otherwise(path_c)
    )
    return df.select(F.col(id_col), u.alias("url"), canon.alias("canon"))


def url_canonical_sql(base_select: str, url_col: str = "url",
                      id_col: str = "doc_id") -> str:
    """DuckDB replay of ``url_canonical``."""
    host = f"lower(regexp_extract({url_col}, '{URL_PATTERNS['host']}', 1))"
    host_c = (
        f"CASE WHEN {host} LIKE 'www.%' THEN substr({host}, 5) "
        f"ELSE {host} END"
    )
    path = f"regexp_extract({url_col}, '{URL_PATTERNS['path']}', 1)"
    path_c = (
        f"CASE WHEN {path} LIKE '%/' AND length({path}) > 1 "
        f"THEN substr({path}, 1, length({path}) - 1) ELSE {path} END"
    )
    return f"""
SELECT {id_col}, {url_col} AS url,
       {host_c} || CASE WHEN {path_c} = '' THEN '/' ELSE {path_c} END AS canon
FROM ({base_select}) s"""


def token_sort_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Word-order-robust exact dedup -> (key_hash, n_docs, min_id): the
    canonical key is the space-joined SORTED token multiset, so
    reorderings of the same words collide ("new york pizza" == "pizza
    new york") — the token-sort-ratio trick reduced to an exact groupBy.
    Key is carried as md5 (shared across engines); one shuffle."""
    key = F.md5(
        F.concat_ws(" ", F.array_sort(F.split(F.col(text_col), " ")))
    )
    return (
        docs.select(F.col(id_col).alias("id"), key.alias("key_hash"))
        .groupBy("key_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("id").alias("min_id"),
        )
    )


def token_sort_dedup_sql(
    base_select: str, id_col: str = "doc_id", text_col: str = "text"
) -> str:
    """DuckDB replay of ``token_sort_dedup``."""
    return f"""
WITH b AS (
  SELECT {id_col} AS id,
         md5(array_to_string(list_sort(string_split({text_col}, ' ')), ' '))
           AS key_hash
  FROM ({base_select}) s)
SELECT key_hash, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(id) AS BIGINT) AS min_id
FROM b GROUP BY 1"""


def line_dedup(
    docs: DataFrame,
    line_tokens: int = 8,
    max_df: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet/C4-style duplicated-line removal: chunk each document's token
    stream into fixed ``line_tokens``-token lines, count each line text's
    corpus-wide occurrences, DROP lines occurring more than ``max_df``
    times, and reassemble the survivors in order ->
    (doc_id, n_lines, n_kept, kept_text).

    Shape at scale: explode -> one corpus-wide line-frequency aggregation
    (map-side combined) -> equi-join back -> per-doc ordered re-aggregation.
    The frequency table is line-cardinality-sized; no self-join, no window
    over the corpus."""
    w = docs.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("ws")
    )
    lines = w.select(
        id_col,
        F.posexplode(
            F.expr(
                f"transform(sequence(0, CAST(ceil(size(ws) / {line_tokens}.0)"
                f" AS INT) - 1), i -> array_join(slice(ws, i * {line_tokens}"
                f" + 1, {line_tokens}), ' '))"
            )
        ).alias("i", "lt"),
    )
    freq = lines.groupBy("lt").agg(F.count(F.lit(1)).alias("df"))
    flagged = lines.join(freq, "lt").withColumn(
        "keep", (F.col("df") <= max_df).cast("long")
    )
    return flagged.groupBy(F.col(id_col)).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum("keep").alias("n_kept"),
        F.coalesce(
            F.array_join(
                F.expr(
                    "transform(array_sort(collect_list(CASE WHEN keep = 1 "
                    "THEN struct(i, lt) END)), x -> x.lt)"
                ),
                " ",
            ),
            F.lit(""),
        ).alias("kept_text"),
    )


def line_dedup_sql(
    rel: str = "documents",
    line_tokens: int = 8,
    max_df: int = 2,
    text: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB replay of ``line_dedup`` (same chunking, same threshold)."""
    n = int(line_tokens)
    return f"""
WITH w AS (SELECT {id_col}, string_split({text}, ' ') AS ws FROM {rel}),
ex AS (
  SELECT {id_col}, ws,
         unnest(range(CAST(ceil(len(ws) / {n}.0) AS BIGINT))) AS i
  FROM w),
l AS (
  SELECT {id_col}, i,
         array_to_string(ws[i * {n} + 1 : i * {n} + {n}], ' ') AS lt
  FROM ex),
f AS (SELECT lt, count(*) AS df FROM l GROUP BY 1),
k AS (
  SELECT l.{id_col} AS {id_col}, l.i AS i, l.lt AS lt,
         CASE WHEN f.df <= {int(max_df)} THEN 1 ELSE 0 END AS keep
  FROM l JOIN f USING (lt))
SELECT {id_col},
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(keep) AS BIGINT) AS n_kept,
       coalesce(string_agg(CASE WHEN keep = 1 THEN lt END, ' '
                           ORDER BY i), '') AS kept_text
FROM k GROUP BY 1"""


def ngram_novelty(
    docs: DataFrame,
    n: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Novelty curve over ingestion order: per document the word-n-gram
    count and how many of its grams appear in NO earlier document
    (earlier = smaller id; a gram is credited to its minimum id, repeats
    inside that first doc all count as novel).  The dedup-aware corpus
    growth diagnostic (how much genuinely new text each shard adds).

    Shape: explode -> one min-id aggregation per gram hash -> equi-join
    back -> per-doc counts; identical to the decontaminate plan with the
    benchmark replaced by the corpus's own past."""
    grams = ngrams_hashed(docs, n, text_col, id_col)
    first = grams.groupBy("h").agg(F.min(id_col).alias("first_id"))
    return (
        grams.join(first, "h")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                (F.col("first_id") == F.col(id_col)).cast("long")
            ).alias("n_novel"),
        )
    )


def ngram_novelty_sql(
    rel: str = "documents",
    n: int = 4,
    text: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB replay of ``ngram_novelty`` (same grams, same min-id rule)."""
    return f"""
WITH w AS (SELECT {id_col}, string_split({text}, ' ') AS ws FROM {rel}),
g AS (
  SELECT {id_col}, md5(unnest({_ngram_sql('ws', n)})) AS h FROM w),
f AS (SELECT h, min({id_col}) AS first_id FROM g GROUP BY 1)
SELECT g.{id_col} AS {id_col},
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN f.first_id = g.{id_col} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel
FROM g JOIN f USING (h) GROUP BY 1"""


def chunk_documents(
    docs: DataFrame,
    chunk: int = 32,
    stride: int = 24,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sliding-window document chunking (the RAG / training-prep
    pre-tokenization step): token windows of ``chunk`` words every
    ``stride`` words — one chunk per start position k*stride < n_words,
    so every token lands in >= 1 chunk and consecutive chunks overlap by
    chunk - stride.  Returns (doc_id, chunk_idx, n_tokens, chunk_md5)
    with chunk_md5 = md5 of the space-rejoined window.

    Shape: pure JVM codegen — split once, sequence+explode the start
    positions, slice/array_join/md5; no Python, no shuffle beyond the
    explode (map-side), scales linearly in corpus bytes."""
    ws = F.split(F.col(text_col), " ")
    d = docs.select(F.col(id_col), ws.alias("__ws"))
    ks = F.sequence(F.lit(0), F.floor((F.size("__ws") - 1) / stride).cast("int"))
    d = d.select(id_col, "__ws", F.explode(ks).alias("chunk_idx"))
    sl = F.slice(F.col("__ws"), F.col("chunk_idx") * stride + 1, chunk)
    return d.select(
        F.col(id_col),
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.size(sl).cast("long").alias("n_tokens"),
        F.md5(F.array_join(sl, " ").cast("binary")).alias("chunk_md5"),
    )


def chunk_documents_sql(
    rel: str = "documents",
    chunk: int = 32,
    stride: int = 24,
    text: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB replay of ``chunk_documents`` (same single-space split)."""
    return f"""
WITH w AS (
  SELECT {id_col}, string_split({text}, ' ') AS ws FROM {rel}),
g AS (
  SELECT {id_col}, ws,
         CAST(unnest(range((len(ws) - 1) // {stride} + 1)) AS BIGINT) AS chunk_idx
  FROM w),
k AS (
  SELECT {id_col}, chunk_idx,
         ws[chunk_idx * {stride} + 1 : chunk_idx * {stride} + {chunk}] AS sl
  FROM g)
SELECT {id_col}, chunk_idx, CAST(len(sl) AS BIGINT) AS n_tokens,
       md5(array_to_string(sl, ' ')) AS chunk_md5
FROM k"""


RAKE_STOPWORDS = ["a", "the", "and", "of", "to", "in"]


def rake_keywords(
    docs: DataFrame,
    top_k: int = 50,
    scale: int = 1 << 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010, public literature) in
    exact integer arithmetic: candidate phrases are maximal stopword-free
    token runs; word score = floordiv(degree * scale, freq) where freq =
    corpus occurrences and degree = sum of the containing phrase's length
    per occurrence (self included, the classic co-occurrence degree);
    phrase score = sum of member word scores (with multiplicity).
    Returns the ``top_k`` DISTINCT phrases by (score DESC, phrase).

    Shape: posexplode -> cumsum-boundary window -> ONE corpus word
    aggregation (broadcastable dictionary) joined back -> per-phrase
    aggregation with an order-pinned array_sort (no collect_list
    ordering hazard) -> partial/final top-k."""
    from pyspark.sql import Window

    toks = docs.select(
        F.col(id_col).alias("d"),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "word"),
    )
    stop = F.col("word").isin(RAKE_STOPWORDS)
    w = Window.partitionBy("d").orderBy("pos")
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    ph = toks.withColumn("pid", F.sum(stop.cast("long")).over(run)).filter(~stop)
    plen = Window.partitionBy("d", "pid")
    ph = ph.withColumn("plen", F.count(F.lit(1)).over(plen))
    ws = ph.groupBy("word").agg(
        F.count(F.lit(1)).alias("freq"),
        F.sum("plen").alias("degree"),
    ).selectExpr("word", f"(degree * {int(scale)}) DIV freq AS wscore")
    scored = ph.join(F.broadcast(ws), "word")
    phrases = scored.groupBy("d", "pid").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "word"))),
                lambda s: s["word"],
            ),
            " ",
        ).alias("phrase"),
        F.sum("wscore").alias("score"),
    )
    return (
        phrases.select("phrase", "score").distinct()
        .orderBy(F.col("score").desc(), "phrase")
        .limit(int(top_k))
    )


def rake_keywords_sql(
    rel: str = "documents",
    top_k: int = 50,
    scale: int = 1 << 20,
    text: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB replay of ``rake_keywords`` (same single-space split)."""
    stops = ", ".join(f"'{s}'" for s in RAKE_STOPWORDS)
    return f"""
WITH w0 AS (
  SELECT {id_col} AS d, string_split({text}, ' ') AS ws FROM {rel}),
toks AS (
  SELECT d, generate_subscripts(ws, 1) AS pos, unnest(ws) AS word FROM w0),
ph0 AS (
  SELECT d, pos, word, word IN ({stops}) AS stop,
         sum(CASE WHEN word IN ({stops}) THEN 1 ELSE 0 END)
           OVER (PARTITION BY d ORDER BY pos
                 ROWS UNBOUNDED PRECEDING) AS pid
  FROM toks),
ph AS (
  SELECT d, pos, word, pid,
         count(*) OVER (PARTITION BY d, pid) AS plen
  FROM ph0 WHERE NOT stop),
ws AS (
  SELECT word,
         (CAST(sum(plen) AS BIGINT) * {int(scale)})
           // CAST(count(*) AS BIGINT) AS wscore
  FROM ph GROUP BY 1),
phr AS (
  SELECT ph.d, ph.pid,
         string_agg(ph.word, ' ' ORDER BY ph.pos) AS phrase,
         CAST(sum(ws.wscore) AS BIGINT) AS score
  FROM ph JOIN ws USING (word)
  GROUP BY 1, 2)
SELECT DISTINCT phrase, score FROM phr
ORDER BY score DESC, phrase LIMIT {int(top_k)}"""


_SOUNDEX_MAP = "01230120022455012623010202"  # a..z -> simplified soundex code


def soundex_expr(col: str) -> str:
    """Shared Spark-SQL/DuckDB expression computing simplified American
    Soundex of a lowercase word (public algorithm; the H/W-as-separator
    simplification is documented): code all letters via translate,
    collapse adjacent equal digits (5 rounds of pairwise replaces —
    enough for 32-char words), keep the first LETTER, drop vowels/0s
    from the rest, pad with 0s to 4 chars.  Both dialects share
    translate/replace/substr, so the text is evaluated verbatim by both
    engines — the blocking key of classic record linkage."""
    code = f"translate({col}, 'abcdefghijklmnopqrstuvwxyz', '{_SOUNDEX_MAP}')"
    for _ in range(5):
        for d in "123456":
            code = f"replace({code}, '{d}{d}', '{d}')"
    rest = f"replace(substr({code}, 2), '0', '')"
    return f"(substr({col}, 1, 1) || substr({rest} || '000', 1, 3))"


def soundex_blocks(
    docs: DataFrame, word_col: str = "word"
) -> DataFrame:
    """Soundex blocking histogram: (code, n_words, n_distinct) per
    phonetic block — the candidate-generation profile of a record-
    linkage pipeline (pairs within a block = n*(n-1)/2).  One codegen
    expression + one map-side-combined aggregation."""
    d = docs.select(
        F.col(word_col).alias("w"),
        F.expr(soundex_expr(word_col)).alias("code"),
    )
    return d.groupBy("code").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.countDistinct("w").alias("n_distinct"),
    )


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 5,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MOSS winnowing (Schleimer, Wilkerson, Aiken 2003, public
    literature) over word k-grams: hash every k-gram, slide a window of
    ``w`` consecutive hashes and keep each window's minimum (ties to the
    EARLIEST position — encoded by packing position into the low 20 bits
    of the truncated hash, so the min is one int64 comparison); the
    distinct selected values are the document's fingerprint set, which
    winnowing guarantees to hit every match of length >= k + w - 1.
    Returns (doc_id, n_fp, fp_sum, fp_min) with fp_sum over the low 40
    bits (no overflow).

    Shape: posexplode -> one lead-window k-gram build -> one min-window
    pass -> distinct + aggregate; pure codegen, shuffles only on the
    doc-keyed windows."""
    from pyspark.sql import Window

    from .sampling import hash_u60

    toks = docs.select(
        F.col(id_col).alias("d"),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "word"),
    )
    wd = Window.partitionBy("d").orderBy("pos")
    gram = F.concat_ws(
        " ", F.col("word"),
        *[F.lead("word", i).over(wd) for i in range(1, int(k))],
    )
    g = toks.select(
        "d", "pos", gram.alias("gram"),
        F.lead("word", int(k) - 1).over(wd).alias("nw"),
    ).filter(F.col("nw").isNotNull()).withColumn(
        "h", hash_u60(F.col("gram"), "winnow")
    )
    hp = ((F.col("h") - F.col("h") % (1 << 20)) + F.col("pos")).alias("hp")
    g = g.select("d", "pos", hp)
    wmin = Window.partitionBy("d").orderBy("pos").rowsBetween(0, int(w) - 1)
    sel = (
        g.withColumn("nwin", F.count(F.lit(1)).over(wmin))
        .withColumn("m", F.min("hp").over(wmin))
        .filter(F.col("nwin") == int(w))  # only full windows select
        .select("d", (F.col("m") - F.col("m") % (1 << 20)).alias("m"))
        .distinct()  # strip the tie-break position: match across offsets
    )
    return sel.groupBy("d").agg(
        F.count(F.lit(1)).alias("n_fp"),
        F.sum(F.col("m") % (1 << 40)).alias("fp_sum"),
        F.min("m").alias("fp_min"),
    ).withColumnRenamed("d", id_col)


def winnow_fingerprints_sql(
    rel: str = "documents",
    k: int = 5,
    w: int = 4,
    text: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB replay of ``winnow_fingerprints`` (generate_subscripts
    positions are 1-based — a constant offset the algebra never sees)."""
    from .sampling import hash_u60_sql

    gram = " || ' ' || ".join(
        f"ws[pos + {i}]" for i in range(int(k))
    )
    h = hash_u60_sql(f"({gram})", "winnow")
    return f"""
WITH w0 AS (
  SELECT {id_col} AS d, string_split({text}, ' ') AS ws FROM {rel}),
toks AS (
  SELECT d, ws, generate_subscripts(ws, 1) AS pos FROM w0),
g AS (
  SELECT d, pos, ({h} - {h} % {1 << 20}) + (pos - 1) AS hp
  FROM toks WHERE pos + {int(k) - 1} <= len(ws)),
sel AS (
  SELECT DISTINCT d, m - m % 1048576 AS m FROM (
    SELECT d,
           min(hp) OVER (PARTITION BY d ORDER BY pos
                         ROWS BETWEEN CURRENT ROW AND {int(w) - 1} FOLLOWING) AS m,
           count(*) OVER (PARTITION BY d ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND {int(w) - 1} FOLLOWING) AS nwin
    FROM g) t
  WHERE nwin = {int(w)})
SELECT d AS {id_col}, CAST(count(*) AS BIGINT) AS n_fp,
       CAST(sum(m % {1 << 40}) AS BIGINT) AS fp_sum, min(m) AS fp_min
FROM sel GROUP BY 1"""


# ------------------------------------------------------- naive Bayes
# Multinomial naive Bayes with Laplace smoothing (McCallum & Nigam 1998,
# public literature) — the classic corpus-quality / topic classifier a
# training-data pipeline trains ON the corpus itself (CCNet-style
# filtering).  Every log-probability is floor-quantized at 1e6 with the
# irrational offset BEFORE the per-document sum (identical double
# expression text in both engines), so scores are order-independent
# int64 and the argmax is exact.


def _nb_logprob_expr(nct: str = "nct", nc: str = "nc", v: str = "v") -> str:
    # ln((n_ct + 1) / (N_c + V)), quantized
    return (
        f"CAST(floor(ln((CAST({nct} AS DOUBLE) + 1.0E0)"
        f" / (CAST({nc} AS DOUBLE) + CAST({v} AS DOUBLE)))"
        " * 1.0E6 + 0.12345678987) AS BIGINT)"
    )


def _nb_prior_expr() -> str:
    return (
        "CAST(floor(ln(CAST(dc AS DOUBLE) / CAST(d AS DOUBLE))"
        " * 1.0E6 + 0.12345678987) AS BIGINT)"
    )


def nb_classify(
    train: DataFrame,
    test: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "label",
) -> DataFrame:
    """Train a multinomial NB on ``train`` (id, text, label) and classify
    ``test`` (id, text) -> (doc_id, label, score): for each class c,

        score(d, c) = q(ln(D_c / D)) + sum_t tf_{d,t} * q(ln((n_{c,t}+1) / (N_c+V)))

    with q the 1e6 floor-quantizer; argmax per doc, ties -> smallest
    label.  Out-of-vocabulary and class-unseen tokens both smooth to
    n_ct = 0.  Shape: the model is three partial-agg shuffles over the
    train split; scoring is one equi-join of test terms against the
    (term, class) table + one (doc, class) aggregation + one window —
    model tables are broadcast-sized (V * classes) in any real corpus,
    but the join stays a keyed shuffle so a 100-TB vocabulary also
    works."""
    from pyspark.sql import Window

    tw = train.select(
        F.col(label_col).alias("label"),
        F.explode(F.split(F.col(text_col), " ")).alias("term"),
    )
    nct = tw.groupBy("label", "term").agg(F.count(F.lit(1)).alias("nct"))
    nc = tw.groupBy("label").agg(F.count(F.lit(1)).alias("nc"))
    v = tw.select("term").distinct().agg(F.count(F.lit(1)).alias("v"))
    dc = train.groupBy(F.col(label_col).alias("label")).agg(
        F.count(F.lit(1)).alias("dc")
    )
    d = train.agg(F.count(F.lit(1)).alias("d"))
    prior = (
        dc.crossJoin(F.broadcast(d))
        .withColumn("prior", F.expr(_nb_prior_expr()))
        .select("label", "prior")
    )
    tf = (
        test.select(
            F.col(id_col),
            F.explode(F.split(F.col(text_col), " ")).alias("term"),
        )
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    classes = nc.select("label", "nc")
    scored = (
        tf.crossJoin(F.broadcast(classes))
        .join(nct, ["term", "label"], "left")
        .crossJoin(F.broadcast(v))
        .withColumn("nct", F.coalesce(F.col("nct"), F.lit(0)))
        .withColumn("lp", F.expr(_nb_logprob_expr()))
        .groupBy(id_col, "label")
        .agg(F.sum(F.col("tf") * F.col("lp")).alias("ll"))
        .join(F.broadcast(prior), "label")
        .withColumn("score", F.col("ll") + F.col("prior"))
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("label").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(id_col, "label", "score")
    )


def nb_classify_sql(
    train_select: str,
    test_select: str,
    id_col: str = "doc_id",
) -> str:
    """DuckDB replay of ``nb_classify``; ``train_select`` -> (id, text,
    label), ``test_select`` -> (id, text)."""
    return f"""
WITH tr AS MATERIALIZED ({train_select}),
te AS MATERIALIZED ({test_select}),
tw AS MATERIALIZED (
  SELECT label, unnest(string_split(text, ' ')) AS term FROM tr),
nct AS (SELECT label, term, CAST(count(*) AS BIGINT) AS nct
        FROM tw GROUP BY 1, 2),
nc AS (SELECT label, CAST(count(*) AS BIGINT) AS nc FROM tw GROUP BY 1),
vv AS (SELECT CAST(count(DISTINCT term) AS BIGINT) AS v FROM tw),
prior AS (
  SELECT label,
         CAST(floor(ln(CAST(count(*) AS DOUBLE)
           / CAST((SELECT count(*) FROM tr) AS DOUBLE))
           * 1.0E6 + 0.12345678987) AS BIGINT) AS prior
  FROM tr GROUP BY 1),
tf AS (
  SELECT {id_col}, term, CAST(count(*) AS BIGINT) AS tf FROM (
    SELECT {id_col}, unnest(string_split(text, ' ')) AS term FROM te) x
  GROUP BY 1, 2),
scored AS (
  SELECT tf.{id_col}, nc.label,
         CAST(sum(tf.tf * {_nb_logprob_expr("COALESCE(n.nct, 0)", "nc.nc", "vv.v")}) AS BIGINT) AS ll
  FROM tf CROSS JOIN nc
  LEFT JOIN nct n ON n.term = tf.term AND n.label = nc.label
  CROSS JOIN vv
  GROUP BY 1, 2)
SELECT {id_col}, label, score FROM (
  SELECT scored.{id_col}, scored.label,
         scored.ll + prior.prior AS score,
         row_number() OVER (PARTITION BY scored.{id_col}
                            ORDER BY scored.ll + prior.prior DESC,
                                     scored.label ASC) AS rn
  FROM scored JOIN prior ON prior.label = scored.label) r
WHERE rn = 1"""


# ------------------------------------------------------- DSIR resampling
# Data Selection via Importance Resampling (Xie et al. 2023, public
# literature): score every candidate document by the log-likelihood
# ratio of two hashed-bigram unigram-bucket LMs (target corpus vs the
# raw pool), then draw the sample with the Gumbel-top-k trick.  Both the
# per-bucket log-ratio and the Gumbel perturbation are floor-quantized
# shared-text expressions, and the Gumbel uniform is the md5 hash of the
# doc id — so the selected set is a pure function of the corpora and the
# oracle replays it row for row.


def _dsir_gumbel_expr(h: str) -> str:
    # -ln(-ln((h + 1) / 2^60)), quantized; h uniform on [0, 2^60)
    u = f"(CAST({h} AS DOUBLE) + 1.0E0) / 1152921504606846976.0E0"
    return (
        f"CAST(floor(-ln(-ln({u})) * 1.0E6 + 0.12345678987) AS BIGINT)"
    )


def dsir_select(
    target: DataFrame,
    candidates: DataFrame,
    k: int = 60,
    n_buckets: int = 1024,
    salt: str = "dsir",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR selection of ``k`` documents from ``candidates`` toward the
    ``target`` distribution -> (doc_id, weight, score, rank):

        weight(d) = sum_b cnt_{d,b} * (q(ln p_t(b)) - q(ln p_r(b)))
        score(d)  = weight(d) + q(gumbel(h(d)))        (Gumbel top-k)

    with p Laplace-smoothed over ``n_buckets`` hashed word-bigram
    buckets and q the 1e6 floor-quantizer.  Shape: two bucket-count
    partial aggs (the LMs), one keyed join of candidate doc-bucket
    counts against the broadcast-size LM diff, one per-doc sum, one
    top-k window — importance scoring of a 100-TB pool never leaves
    keyed shuffles."""
    from pyspark.sql import Window

    from .sampling import hash_u60

    B = int(n_buckets)

    def buckets(df):
        bg = _bigrams(df, text_col, id_col)
        return bg.select(
            F.col(id_col),
            (hash_u60(F.concat_ws(" ", "w1", "w2"), salt) % B).alias("b"),
        )

    tb = buckets(target)
    cb = buckets(candidates)
    nt = tb.groupBy("b").agg(F.count(F.lit(1)).alias("nt"))
    nr = cb.groupBy("b").agg(F.count(F.lit(1)).alias("nr"))
    tot = tb.agg(F.count(F.lit(1)).alias("tot_t")).crossJoin(
        cb.agg(F.count(F.lit(1)).alias("tot_r"))
    )
    dq = (
        _nb_logprob_expr("nt", "tot_t", str(B)) + " - "
        + _nb_logprob_expr("nr", "tot_r", str(B))
    )
    wts = (
        cb.groupBy(id_col, "b")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .join(F.broadcast(nt), "b", "left")
        .join(F.broadcast(nr), "b", "left")
        .crossJoin(F.broadcast(tot))
        .withColumn("nt", F.coalesce(F.col("nt"), F.lit(0)))
        .withColumn("nr", F.coalesce(F.col("nr"), F.lit(0)))
        .groupBy(id_col)
        .agg(F.sum(F.col("cnt") * F.expr(dq)).alias("weight"))
    )
    scored = (
        candidates.select(id_col)
        .join(wts, id_col, "left")
        .withColumn("weight", F.coalesce(F.col("weight"), F.lit(0)))
        .withColumn("h", hash_u60(F.col(id_col), salt + ":g"))
        .withColumn("score", F.col("weight") + F.expr(_dsir_gumbel_expr("h")))
    )
    w = Window.orderBy(F.col("score").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= int(k))
        .select(id_col, "weight", "score", "rank")
    )


def dsir_select_sql(
    target_select: str,
    candidates_select: str,
    k: int = 60,
    n_buckets: int = 1024,
    salt: str = "dsir",
    id_col: str = "doc_id",
) -> str:
    """DuckDB replay of ``dsir_select``; selects -> (doc_id, text)."""
    from .sampling import hash_u60_sql

    B = int(n_buckets)
    hb = hash_u60_sql("w1 || ' ' || w2", salt)
    hg = hash_u60_sql(f"CAST(c.{id_col} AS VARCHAR)", salt + ":g")
    dq = (
        _nb_logprob_expr("COALESCE(nt.nt, 0)", "tot.tot_t", str(B)) + " - "
        + _nb_logprob_expr("COALESCE(nr.nr, 0)", "tot.tot_r", str(B))
    )

    def bk(sel, name):
        return f"""{name} AS MATERIALIZED (
  SELECT {id_col}, ({hb}) % {B} AS b FROM (
    SELECT {id_col}, ws[i.i] AS w1, ws[i.i + 1] AS w2
    FROM (SELECT {id_col}, string_split(text, ' ') AS ws FROM ({sel}) s) t,
         LATERAL (SELECT unnest(range(1, len(ws))) AS i) i) g)"""

    return f"""
WITH {bk(target_select, "tb")},
{bk(candidates_select, "cb")},
nt AS (SELECT b, CAST(count(*) AS BIGINT) AS nt FROM tb GROUP BY 1),
nr AS (SELECT b, CAST(count(*) AS BIGINT) AS nr FROM cb GROUP BY 1),
tot AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM tb) AS tot_t,
               (SELECT CAST(count(*) AS BIGINT) FROM cb) AS tot_r),
wts AS (
  SELECT db.{id_col}, CAST(sum(db.cnt * ({dq})) AS BIGINT) AS weight
  FROM (SELECT {id_col}, b, CAST(count(*) AS BIGINT) AS cnt
        FROM cb GROUP BY 1, 2) db
  LEFT JOIN nt ON nt.b = db.b
  LEFT JOIN nr ON nr.b = db.b
  CROSS JOIN tot GROUP BY 1),
scored AS (
  SELECT c.{id_col}, COALESCE(wts.weight, 0) AS weight,
         COALESCE(wts.weight, 0) + {_dsir_gumbel_expr(f"({hg})")} AS score
  FROM (SELECT {id_col} FROM ({candidates_select}) cc) c
  LEFT JOIN wts ON wts.{id_col} = c.{id_col})
SELECT {id_col}, weight, score, rank FROM (
  SELECT *, CAST(row_number() OVER (
    ORDER BY score DESC, {id_col} ASC) AS BIGINT) AS rank
  FROM scored) r WHERE rank <= {int(k)}"""


def dict_match_counts(
    docs: DataFrame,
    text_col: str,
    patterns: list[str],
) -> DataFrame:
    """Multi-pattern literal matching (the blocklist / PII-dictionary
    filter of a training-data pipeline) -> (pattern, docs_hit,
    total_occ): occurrences of pattern p in t are counted as

        (length(t) - length(replace(t, p, ''))) div length(p)

    — non-overlapping left-to-right replace semantics, identical in
    Spark and DuckDB, pure JVM codegen (one wide projection + one
    explode + one agg; the dictionary rides in the plan, no join).
    For dictionaries too big for a plan literal, switch to the
    tokenize-and-broadcast-join shape instead."""
    t = F.col(text_col)
    entries = []
    for p in patterns:
        if not p:
            raise ValueError("empty pattern")
        lit = p.replace("'", "''")
        occ = F.expr(
            f"(length({text_col}) - length(replace({text_col}, '{lit}', '')))"
            f" div {len(p)}"
        )
        entries.append(
            F.struct(F.lit(p).alias("pattern"), occ.alias("occ"))
        )
    ex = docs.select(F.explode(F.array(*entries)).alias("s")).select(
        "s.pattern", "s.occ"
    )
    return ex.groupBy("pattern").agg(
        F.sum((F.col("occ") > 0).cast("long")).alias("docs_hit"),
        F.sum("occ").alias("total_occ"),
    )


def dict_match_counts_sql(
    base_select: str, text_col: str, patterns: list[str]
) -> str:
    """DuckDB oracle for ``dict_match_counts``."""
    vals = ", ".join("('" + p.replace("'", "''") + "')" for p in patterns)
    return f"""
SELECT pattern,
       CAST(sum(CASE WHEN occ > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_hit,
       CAST(sum(occ) AS BIGINT) AS total_occ
FROM (
  SELECT p.pattern,
         (length(b.{text_col}) - length(replace(b.{text_col}, p.pattern, '')))
           // length(p.pattern) AS occ
  FROM ({base_select}) b, (VALUES {vals}) p(pattern)) t
GROUP BY pattern"""


_HUFF_NID_BASE = 1000  # internal-node ids start here (vocab must stay below)


def huffman_code_lengths(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Canonical Huffman code lengths for the corpus token vocabulary ->
    (word, freq, code_len): the classic two-least-frequent merge loop
    with the DETERMINISTIC tie rule (weight, node id) — leaf id = the
    word's alphabetic rank, internal ids 1000 + round — so the tree is a
    pure function of the frequency table and the oracle can replay the
    merges as a self-terminating recursive CTE.

    Scale shape: frequencies are a distributed partial agg; only the
    vocabulary-sized table (which IS the codebook being built) reaches
    the driver for the O(V log V) merge loop — the kcenter discipline of
    collecting exactly the output."""
    import heapq

    freq = (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    )
    rows = sorted((r["word"], int(r["freq"])) for r in freq.collect())
    if len(rows) >= _HUFF_NID_BASE:
        raise ValueError("vocabulary too large for the fixed internal-id base")
    spark = docs.sparkSession
    if len(rows) == 1:
        return spark.createDataFrame(
            [(rows[0][0], rows[0][1], 0)], "word string, freq long, code_len long"
        )
    heap = [(f, i) for i, (_w, f) in enumerate(rows)]
    heapq.heapify(heap)
    parent: dict[int, int] = {}
    for rnd in range(len(rows) - 1):
        f1, i1 = heapq.heappop(heap)
        f2, i2 = heapq.heappop(heap)
        nid = _HUFF_NID_BASE + rnd
        parent[i1] = nid
        parent[i2] = nid
        heapq.heappush(heap, (f1 + f2, nid))
    out = []
    for i, (w, f) in enumerate(rows):
        d, n = 0, i
        while n in parent:
            d += 1
            n = parent[n]
        out.append((w, f, d))
    return spark.createDataFrame(out, "word string, freq long, code_len long")


def huffman_code_lengths_sql(rel: str = "documents", text: str = "text") -> str:
    """DuckDB replay of ``huffman_code_lengths``: single-row recursive
    state (active node list + leaf->node map with depths); each round
    sorts by (f, id), merges the two minima into id 1000 + round, bumps
    the depth of every leaf under them; terminates when one node
    remains."""
    b = _HUFF_NID_BASE
    return f"""
WITH RECURSIVE freq AS MATERIALIZED (
  SELECT w AS word, CAST(count(*) AS BIGINT) AS f
  FROM (SELECT unnest(string_split({text}, ' ')) AS w FROM {rel}) t
  GROUP BY 1),
leaves AS MATERIALIZED (
  SELECT word, f,
         CAST(row_number() OVER (ORDER BY word) - 1 AS BIGINT) AS id
  FROM freq),
st AS (
  SELECT CAST(0 AS BIGINT) AS rnd,
         (SELECT list({{'f': f, 'id': id}} ORDER BY id) FROM leaves) AS ns,
         (SELECT list({{'leaf': id, 'nid': id, 'dep': CAST(0 AS BIGINT)}}
                      ORDER BY id) FROM leaves) AS lm
  UNION ALL
  SELECT rnd + 1,
         list_append(list_slice(srt, 3, len(srt)),
                     {{'f': srt[1].f + srt[2].f, 'id': {b} + rnd}}) AS ns,
         [{{'leaf': x.leaf,
            'nid': CASE WHEN x.nid = srt[1].id OR x.nid = srt[2].id
                        THEN {b} + rnd ELSE x.nid END,
            'dep': x.dep + CASE WHEN x.nid = srt[1].id OR x.nid = srt[2].id
                                THEN 1 ELSE 0 END}} for x in lm] AS lm
  FROM (SELECT rnd, list_sort(ns) AS srt, lm FROM st WHERE len(ns) > 1) q),
fin AS (SELECT lm FROM st WHERE len(ns) = 1),
d AS (SELECT unnest(lm) AS e FROM fin)
SELECT l.word, l.f AS freq, d.e.dep AS code_len
FROM d JOIN leaves l ON l.id = d.e.leaf"""


_CDC_B = 257       # rolling polynomial base
_CDC_M = 1 << 20   # hash modulus (power of two keeps % cheap and exact)
_CDC_W = 8         # window width
_CDC_DIV = 64      # boundary divisor
_CDC_REM = 13      # boundary residue


def cdc_chunks(docs: DataFrame, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Content-defined chunking (Rabin-style fixed-window boundaries, the
    storage-dedup primitive behind LBFS/restic, public literature) ->
    (doc_id, chunk_idx, len, csum): a chunk boundary falls AFTER position
    i when the window hash sum_{j=0..7} code(c[i-j]) * 257^j mod 2^20 has
    residue 13 mod 64 (no min-size constraint, so the whole pass is pure
    window codegen: 8 lag taps + a running boundary count).  ``csum`` is
    the chunk's codepoint sum — identical chunks collide on (len, csum),
    which is what the cross-document dedup join keys on.

    Scale shape: one posexplode of characters + two window passes keyed
    (doc, position); no Python, no recurrence."""
    from pyspark.sql import Window

    ch = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "(?!^)")).alias("i", "c"),
    ).filter(
        # Spark's split keeps the trailing empty token (limit -1); drop it
        F.col("c") != ""
    ).select(id_col, "i", F.ascii(F.col("c")).alias("v"))
    w = Window.partitionBy(id_col).orderBy("i")
    taps = None
    for j in range(_CDC_W):
        t = (F.coalesce(F.lag(F.col("v"), j).over(w), F.lit(0))
             * F.lit(pow(_CDC_B, j, _CDC_M)))
        taps = t if taps is None else taps + t
    h = F.pmod(taps, F.lit(_CDC_M))
    d = ch.withColumn(
        "b", ((h % _CDC_DIV) == _CDC_REM).cast("long")
    ).withColumn(
        "chunk_idx",
        F.sum("b").over(w.rowsBetween(Window.unboundedPreceding, -1))
    ).fillna(0, subset=["chunk_idx"])
    return (
        d.groupBy(F.col(id_col), "chunk_idx")
        .agg(F.count(F.lit(1)).alias("len"), F.sum("v").alias("csum"))
    )


def cdc_chunks_sql(rel: str = "documents", text: str = "text",
                   id_col: str = "doc_id") -> str:
    """DuckDB twin of ``cdc_chunks`` (same taps, same running boundary
    count shifted by one row)."""
    taps = " + ".join(
        f"coalesce(lag(v, {j}) OVER w, 0) * {pow(_CDC_B, j, _CDC_M)}"
        for j in range(_CDC_W)
    )
    return f"""
WITH ch AS (
  SELECT {id_col}, CAST(j AS BIGINT) - 1 AS i, ascii({text}[CAST(j AS INT)]) AS v
  FROM {rel}, unnest(range(1, length({text}) + 1)) u(j)),
h AS (
  SELECT {id_col}, i, v,
         CASE WHEN (({taps}) % {_CDC_M}) % {_CDC_DIV} = {_CDC_REM}
              THEN 1 ELSE 0 END AS b
  FROM ch WINDOW w AS (PARTITION BY {id_col} ORDER BY i)),
cid AS (
  SELECT {id_col}, v,
         coalesce(sum(b) OVER (PARTITION BY {id_col} ORDER BY i
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING), 0) AS chunk_idx
  FROM h)
SELECT {id_col}, chunk_idx, count(*) AS len, sum(v) AS csum
FROM cid GROUP BY 1, 2"""


def vocab_stats(docs: DataFrame, group_col: str = "source",
                text_col: str = "text") -> DataFrame:
    """Zipf-profile vocabulary statistics per corpus slice.

    Per group: total token count, vocabulary size, hapax / dis legomena
    counts (frequency-1 and frequency-2 types), the top type's frequency,
    and the type-token ratio as an exact int/int double.  Hapax share and
    TTR are the standard corpus-health diagnostics a training-data pipeline
    tracks per source/shard (a collapsing TTR flags boilerplate floods).

    Scale shape: one explode + two keyed aggregations, both map-side
    combined — the (group, token) histogram is the same primitive as the
    engine's cell histogram; no joins.
    """
    toks = docs.select(
        F.col(group_col).alias("g"),
        F.explode(F.split(F.col(text_col), " ")).alias("t"),
    ).filter(F.col("t") != "")
    freq = toks.groupBy("g", "t").agg(F.count("*").alias("c"))
    return (
        freq.groupBy("g")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count("*").alias("vocab"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("hapax"),
            F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).alias("dis"),
            F.max("c").alias("top_freq"),
        )
        .select(
            F.col("g").alias(group_col),
            "n_tokens", "vocab", "hapax", "dis", "top_freq",
            (F.col("vocab").cast("double") / F.col("n_tokens").cast("double")).alias("ttr"),
        )
    )


def vocab_stats_sql(rel: str = "documents", group_col: str = "source",
                    text_col: str = "text") -> str:
    """DuckDB twin of ``vocab_stats``."""
    return f"""
WITH toks AS (
  SELECT {group_col} AS g, unnest(string_split({text_col}, ' ')) AS t
  FROM {rel}),
freq AS (
  SELECT g, t, count(*) AS c FROM toks WHERE t <> '' GROUP BY 1, 2)
SELECT g AS {group_col},
       sum(c) AS n_tokens,
       count(*) AS vocab,
       sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS hapax,
       sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS dis,
       max(c) AS top_freq,
       CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS ttr
FROM freq GROUP BY 1"""


_FLESCH_Q = (
    "CAST(floor((206.835e0"
    " - 1.015e0 * (CAST({nw} AS DOUBLE) / CAST({ns} AS DOUBLE))"
    " - 84.6e0 * (CAST({sy} AS DOUBLE) / CAST({nw} AS DOUBLE))) * 1.0e6)"
    " AS BIGINT)"
)


def readability_counts(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Flesch reading-ease inputs + quantized score per document.

    Words are whitespace tokens; sentences are ``[.!?]+`` runs (min 1);
    syllables per word are ``[aeiouy]+`` vowel groups in the lowercased
    token (min 1) — the standard heuristic.  The score
    ``206.835 - 1.015*(W/S) - 84.6*(SY/W)`` is computed by ONE shared
    expression text (identical IEEE divide/multiply order in both engines)
    and quantized at 1e6, per the bit-exactness playbook.

    Scale shape: one explode + one keyed aggregation for the syllable sum,
    the rest per-row codegen; no joins, no Python.
    """
    syl = (
        docs.select(
            F.col(id_col),
            F.explode(F.split(F.col(text_col), " ")).alias("w"),
        )
        .filter(F.col("w") != "")
        .select(
            id_col,
            F.greatest(
                F.lit(1),
                F.size(F.expr("regexp_extract_all(lower(w), '[aeiouy]+', 0)")),
            ).cast("long").alias("sy"),
        )
        .groupBy(id_col)
        .agg(F.sum("sy").alias("n_syll"), F.count("*").alias("n_words"))
    )
    base = docs.select(
        F.col(id_col),
        F.greatest(
            F.lit(1),
            F.size(F.expr(f"regexp_extract_all({text_col}, '[.!?]+', 0)")),
        ).cast("long").alias("n_sents"),
    )
    j = base.join(syl, id_col)
    score = F.expr(_FLESCH_Q.format(nw="n_words", ns="n_sents", sy="n_syll"))
    return j.select(id_col, "n_words", "n_sents", "n_syll", score.alias("flesch_q"))


def readability_sql(rel: str = "documents", text_col: str = "text",
                    id_col: str = "doc_id") -> str:
    """DuckDB twin of ``readability_counts`` (same shared score text)."""
    score = _FLESCH_Q.format(nw="n_words", ns="n_sents", sy="n_syll")
    return f"""
WITH w AS (
  SELECT {id_col}, unnest(string_split({text_col}, ' ')) AS w FROM {rel}),
syl AS (
  SELECT {id_col},
         sum(greatest(1, length(regexp_extract_all(lower(w), '[aeiouy]+')))) AS n_syll,
         count(*) AS n_words
  FROM w WHERE w <> '' GROUP BY 1),
base AS (
  SELECT {id_col},
         greatest(1, length(regexp_extract_all({text_col}, '[.!?]+'))) AS n_sents
  FROM {rel})
SELECT b.{id_col}, s.n_words, b.n_sents, s.n_syll,
       {score} AS flesch_q
FROM base b JOIN syl s USING ({id_col})"""


def _docs(docs: DataFrame, id_col: str, text_col: str, schema: str, body) -> DataFrame:
    """The per-document parse: ``body(row, text)`` over (doc_id, text)
    rows -> ``doc_id long`` + ``schema`` rows."""
    return _map_rows(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")),
        "doc_id long, " + schema, ["text"], None, body)


def lz77_factors(docs: DataFrame, window: int = 64, max_len: int = 16,
                 min_len: int = 3, cap: int = 160,
                 text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Greedy LZ77 factorization (bounded window) — the redundancy
    estimator behind gzip-style compressibility filters for training data
    (highly factorable text = boilerplate).

    Deterministic variant, documented: parse the first ``cap`` chars; at
    position p the factor is the LONGEST match of length min_len..max_len
    whose needle ``text[p:p+l]`` occurs fully inside the preceding
    ``window`` chars (no overlap past p), taking the LEFTMOST occurrence
    for the distance; otherwise a literal (len=1, dist=0).  Output one row
    per factor: (doc_id, idx, pos, len, dist), pos 1-based.

    Scale shape: ONE mapInPandas pass, each document parsed once,
    embarrassingly parallel — the per-doc loop is O(cap * window) with
    tiny constants.  The oracle replays the parse as a lockstep recursive
    CTE (all documents advance one factor per round).
    """

    def factors(row, t):
        t = (t or "")[:cap]
        n = len(t)
        out = []
        pos = 0
        while pos < n:
            w0 = max(0, pos - window)
            hay = t[w0:pos]
            ln, dist = 1, 0
            for l in range(min(max_len, n - pos), min_len - 1, -1):
                j = hay.find(t[pos:pos + l])
                if j >= 0:
                    ln, dist = l, pos - (w0 + j)
                    break
            out.append((pos + 1, ln, dist))
            pos += ln
        f = np.array(out, np.int64).reshape(-1, 3)
        return {"doc_id": row["doc_id"], "idx": np.arange(len(f)),
                "pos": f[:, 0], "len": f[:, 1], "dist": f[:, 2]}

    return _docs(docs, id_col, text_col, "idx long, pos long, len long, dist long",
                 factors)


def lz77_factors_sql(rel: str = "documents", window: int = 64,
                     max_len: int = 16, min_len: int = 3, cap: int = 160,
                     text_col: str = "text", id_col: str = "doc_id") -> str:
    """DuckDB twin of ``lz77_factors``: lockstep recursive CTE, one factor
    per document per round; the longest-match search is a greatest() over
    descending CASE arms of position()."""
    w0 = f"greatest(1, pos - {int(window)})"
    hay = f"substr(t, {w0}, pos - {w0})"
    arms = " , ".join(
        f"CASE WHEN pos + {l} - 1 <= n AND position(substr(t, pos, {l}) IN {hay}) > 0 THEN {l} ELSE 0 END"
        for l in range(max_len, min_len - 1, -1)
    )
    return f"""
WITH RECURSIVE st AS (
  SELECT doc_id, t, n, pos, idx,
         CASE WHEN best >= {int(min_len)} THEN best ELSE 1 END AS len,
         CASE WHEN best >= {int(min_len)}
              THEN pos - ({w0} + position(substr(t, pos, best) IN {hay}) - 1)
              ELSE 0 END AS dist
  FROM (
    SELECT doc_id, t, n, pos, idx, greatest({arms}) AS best
    FROM (
      SELECT {id_col} AS doc_id, substr({text_col}, 1, {int(cap)}) AS t,
             least(length({text_col}), {int(cap)}) AS n,
             1 AS pos, 0 AS idx
      FROM {rel}) b0) b
  UNION ALL
  SELECT doc_id, t, n, pos, idx,
         CASE WHEN best >= {int(min_len)} THEN best ELSE 1 END AS len,
         CASE WHEN best >= {int(min_len)}
              THEN pos - ({w0} + position(substr(t, pos, best) IN {hay}) - 1)
              ELSE 0 END AS dist
  FROM (
    SELECT doc_id, t, n, pos, idx, greatest({arms}) AS best
    FROM (
      SELECT doc_id, t, n, pos + len AS pos, idx + 1 AS idx
      FROM st WHERE pos + len <= n) s0) s)
SELECT doc_id, CAST(idx AS BIGINT) AS idx, CAST(pos AS BIGINT) AS pos,
       CAST(len AS BIGINT) AS len, CAST(dist AS BIGINT) AS dist
FROM st"""


def adler32_docs(docs: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Adler-32 checksum (RFC 1950, public spec) per document, distributed:
    A = (1 + sum bytes) mod 65521, B = (n + sum (n-i+1)*byte_i) mod 65521,
    adler = B*65536 + A.  The position-weighted form makes the rolling
    checksum ONE explode + ONE map-side-combined aggregation — no
    sequential state, exact int64 (n <= ~1e5 keeps the weighted sum far
    from overflow).  The content-integrity primitive of ingest manifests."""
    d = docs.select(
        F.col(id_col), F.col(text_col).alias("t"),
        F.length(text_col).cast("long").alias("n"),
    ).filter(F.col("n") > 0)
    ex = d.select(
        id_col, "n",
        F.explode(F.sequence(F.lit(1), F.col("n"))).alias("i"),
        F.col("t"),
    ).select(
        id_col, "n", "i",
        F.ascii(F.expr("substring(t, i, 1)")).cast("long").alias("b"),
    )
    return (
        ex.groupBy(id_col, "n")
        .agg(
            F.sum("b").alias("sb"),
            F.sum((F.col("n") - F.col("i") + 1) * F.col("b")).alias("swb"),
        )
        .select(
            id_col,
            ((F.col("sb") + 1) % 65521).alias("a"),
            ((F.col("swb") + F.col("n")) % 65521).alias("bb"),
            (((F.col("swb") + F.col("n")) % 65521) * 65536
             + (F.col("sb") + 1) % 65521).alias("adler"),
        )
    )


def adler32_sql(rel: str = "documents", text_col: str = "text",
                id_col: str = "doc_id") -> str:
    """DuckDB twin of ``adler32_docs``."""
    return f"""
WITH d AS (
  SELECT {id_col}, {text_col} AS t, length({text_col}) AS n
  FROM {rel} WHERE length({text_col}) > 0),
ex AS (
  SELECT {id_col}, n, i,
         ascii(substr(t, CAST(i AS INT), 1)) AS b
  FROM d, unnest(range(1, n + 1)) u(i)),
s AS (
  SELECT {id_col}, n, sum(b) AS sb, sum((n - i + 1) * b) AS swb
  FROM ex GROUP BY 1, 2)
SELECT {id_col},
       (sb + 1) % 65521 AS a,
       (swb + n) % 65521 AS bb,
       ((swb + n) % 65521) * 65536 + (sb + 1) % 65521 AS adler
FROM s"""


_TEXTRANK_SHIFT = 4096  # node id = doc_id * SHIFT + chunk (chunks < 4096)


def textrank_chunks(docs: DataFrame, chunk_tokens: int = 8,
                    min_shared: int = 2, iters: int = 3, top_k: int = 2,
                    text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """TextRank extractive summarization (Mihalcea & Tarau 2004, public
    literature) over fixed-size token chunks: chunks sharing >=
    ``min_shared`` distinct tokens are linked, and the engine's exact
    integer PageRank ranks them — all documents run as components of ONE
    global graph (composite node id doc*4096+chunk; the global teleport
    term is a documented variant of per-document teleport — it adds the
    same base mass to every node, so within-document comparisons follow
    the link structure).  Output: top ``top_k`` chunks per document by
    (rank DESC, chunk).

    Scale shape: token explode + one self-join on (doc, token) bounded by
    per-doc vocabulary, then the pagerank rounds (keyed aggs); no
    per-document driver work."""
    from .graph import pagerank_exact

    toks = docs.select(
        F.col(id_col).alias("d"),
        F.posexplode(F.split(F.col(text_col), " ")).alias("p", "t"),
    ).filter(F.col("t") != "").select(
        "d", (F.col("p") / chunk_tokens).cast("long").alias("c"), "t"
    )
    cdt = toks.distinct()
    a = cdt.select(F.col("d"), F.col("c").alias("ca"), "t")
    b = cdt.select(F.col("d"), F.col("c").alias("cb"), "t")
    pe = (
        a.join(b, ["d", "t"])
        .filter(F.col("ca") < F.col("cb"))
        .groupBy("d", "ca", "cb")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= int(min_shared))
    )
    sh = _TEXTRANK_SHIFT
    edges = pe.select(
        (F.col("d") * sh + F.col("ca")).alias("src"),
        (F.col("d") * sh + F.col("cb")).alias("dst"),
    ).unionByName(pe.select(
        (F.col("d") * sh + F.col("cb")).alias("src"),
        (F.col("d") * sh + F.col("ca")).alias("dst"),
    ))
    nodes = cdt.select((F.col("d") * sh + F.col("c")).alias("node")).distinct()
    ranks = pagerank_exact(edges, nodes, iters=iters)
    w = Window.partitionBy((F.col("node") / sh).cast("long")).orderBy(
        F.col("rank").desc(), F.col("node")
    )
    return (
        ranks.withColumn("pick", F.row_number().over(w).cast("long"))
        .filter(F.col("pick") <= int(top_k))
        .select(
            (F.col("node") / sh).cast("long").alias(id_col),
            "pick", (F.col("node") % sh).alias("chunk"), "rank",
        )
    )


def textrank_chunks_sql(rel: str = "documents", chunk_tokens: int = 8,
                        min_shared: int = 2, iters: int = 3, top_k: int = 2,
                        text_col: str = "text", id_col: str = "doc_id",
                        scale: int = 10**12) -> str:
    """DuckDB twin of ``textrank_chunks`` (pagerank blocks chained per
    iteration — the q_pagerank oracle template over the chunk graph)."""
    sh = _TEXTRANK_SHIFT
    S = int(scale)
    blocks = [f"""w AS (SELECT {id_col} AS d, string_split({text_col}, ' ') AS ws FROM {rel}),
toks AS (
  SELECT d, (generate_subscripts(ws, 1) - 1) // {int(chunk_tokens)} AS c,
         unnest(ws) AS t
  FROM w),
cdt AS (SELECT DISTINCT d, c, t FROM toks WHERE t <> ''),
pe AS (
  SELECT a.d, a.c AS ca, b.c AS cb
  FROM cdt a JOIN cdt b ON a.d = b.d AND a.t = b.t AND a.c < b.c
  GROUP BY 1, 2, 3 HAVING count(*) >= {int(min_shared)}),
e AS (
  SELECT d * {sh} + ca AS src, d * {sh} + cb AS dst FROM pe
  UNION ALL SELECT d * {sh} + cb, d * {sh} + ca FROM pe),
nodes AS (SELECT DISTINCT d * {sh} + c AS node FROM cdt),
nn AS (SELECT count(*) AS n FROM nodes),
deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
r0 AS (SELECT node, {S} // nn.n AS rank FROM nodes, nn)"""]
    for i in range(int(iters)):
        blocks.append(f"""c{i + 1} AS (
  SELECT e.dst AS node, sum(r.rank // d.outdeg) AS s
  FROM e JOIN r{i} r ON r.node = e.src JOIN deg d ON d.src = e.src
  GROUP BY 1),
r{i + 1} AS (
  SELECT nodes.node,
         ({S} * 15) // (100 * nn.n) + (85 * COALESCE(c.s, 0)) // 100 AS rank
  FROM nodes LEFT JOIN c{i + 1} c ON c.node = nodes.node, nn)""")
    return "WITH " + ",\n".join(blocks) + f"""
SELECT node // {sh} AS {id_col}, pick, node % {sh} AS chunk,
       CAST(rank AS BIGINT) AS rank
FROM (
  SELECT node, rank,
         CAST(row_number() OVER (PARTITION BY node // {sh}
              ORDER BY rank DESC, node) AS BIGINT) AS pick
  FROM r{int(iters)}) t
WHERE pick <= {int(top_k)}"""


def bwt_prefix(docs: DataFrame, prefix: int = 32, sentinel: str = "!",
               text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Burrows-Wheeler transform of each document's first ``prefix``
    chars + sentinel (the compression/self-index primitive behind bzip2
    and FM-indexes, public literature): all L+1 rotations, sorted
    bytewise (the sentinel is unique so rotations never tie; ASCII '!'
    sorts above space and below letters identically in both engines),
    last column concatenated in sorted order.

    Scale shape: bounded explode (L+1 rows/doc) + one keyed sort-agg —
    embarrassingly parallel across documents."""
    L = int(prefix) + 1
    t = F.concat(F.substring(F.col(text_col), 1, int(prefix)), F.lit(sentinel))
    d = docs.select(F.col(id_col), t.alias("t")).filter(
        F.length(text_col) >= int(prefix)
    )
    rots = d.select(
        id_col,
        F.explode(F.sequence(F.lit(0), F.lit(L - 1))).alias("r"),
        F.col("t"),
    ).select(
        id_col,
        F.concat(
            F.expr(f"substring(t, r + 1, {L} - r)"),
            F.expr("substring(t, 1, r)"),
        ).alias("rot"),
    )
    return rots.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list("rot")),
                lambda s: F.substring(s, L, 1),
            ),
            "",
        ).alias("bwt")
    )


def bwt_prefix_sql(rel: str = "documents", prefix: int = 32,
                   sentinel: str = "!", text_col: str = "text",
                   id_col: str = "doc_id") -> str:
    """DuckDB twin of ``bwt_prefix``."""
    L = int(prefix) + 1
    return f"""
WITH d AS (
  SELECT {id_col}, substr({text_col}, 1, {int(prefix)}) || '{sentinel}' AS t
  FROM {rel} WHERE length({text_col}) >= {int(prefix)}),
rots AS (
  SELECT {id_col},
         substr(t, CAST(r.r + 1 AS INT), {L} - CAST(r.r AS INT))
           || substr(t, 1, CAST(r.r AS INT)) AS rot
  FROM d, (SELECT unnest(range({L})) AS r) r)
SELECT {id_col}, string_agg(right(rot, 1), '' ORDER BY rot) AS bwt
FROM rots GROUP BY 1"""


def longest_palindrome(docs: DataFrame, cap: int = 120, max_r: int = 12,
                       text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Longest odd-length palindrome (bounded radius) per document: for
    every center, match(k) compares the k chars left of the center with
    the REVERSE of the k chars right of it; the palindromic radius is the
    longest prefix of true matches (a running-min window over k), and the
    document takes the max (tie -> smallest center).  Pure string codegen
    — reverse()/substr() agree bytewise across engines on ASCII text.

    Output: (doc_id, center, best_len) with best_len = 2*r + 1 (1 when no
    radius-1 palindrome exists anywhere).

    Scale shape: bounded explode (cap centers x max_r radii) + two
    windows — constant per-document fan-out."""
    d = docs.select(
        F.col(id_col), F.substring(F.col(text_col), 1, int(cap)).alias("t"),
        F.least(F.length(text_col), F.lit(int(cap))).alias("n"),
    )
    ex = d.select(
        id_col, "t", "n",
        F.explode(F.sequence(F.lit(1), F.col("n"))).alias("c"),
    ).select(
        id_col, "t", "n", "c",
        F.explode(F.sequence(F.lit(1), F.lit(int(max_r)))).alias("k"),
    )
    m = ex.withColumn(
        "ok",
        (
            (F.col("c") - F.col("k") >= 1) & (F.col("c") + F.col("k") <= F.col("n"))
            & (F.expr("substring(t, c - k, k)")
               == F.reverse(F.expr("substring(t, c + 1, k)")))
        ).cast("long"),
    )
    wk = Window.partitionBy(id_col, "c").orderBy("k").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    r = (
        m.withColumn("runmin", F.min("ok").over(wk))
        .filter(F.col("runmin") == 1)
        .groupBy(id_col, "c")
        .agg(F.max("k").alias("r"))
    )
    base = d.select(id_col, F.lit(1).cast("long").alias("c0"))
    pick = Window.partitionBy(id_col).orderBy(F.col("r").desc(), "c")
    best = (
        r.withColumn("pk", F.row_number().over(pick))
        .filter(F.col("pk") == 1)
        .select(id_col, F.col("c").alias("center"),
                (F.col("r") * 2 + 1).alias("best_len"))
    )
    return base.join(best, id_col, "left").select(
        id_col,
        F.coalesce(F.col("center"), F.col("c0")).alias("center"),
        F.coalesce(F.col("best_len"), F.lit(1)).cast("long").alias("best_len"),
    )


def longest_palindrome_sql(rel: str = "documents", cap: int = 120,
                           max_r: int = 12, text_col: str = "text",
                           id_col: str = "doc_id") -> str:
    """DuckDB twin of ``longest_palindrome``."""
    return f"""
WITH d AS (
  SELECT {id_col}, substr({text_col}, 1, {int(cap)}) AS t,
         least(length({text_col}), {int(cap)}) AS n
  FROM {rel}),
ex AS (
  SELECT {id_col}, t, n, c.c, k.k
  FROM d, (SELECT unnest(range(1, {int(cap)} + 1)) AS c) c,
       (SELECT unnest(range(1, {int(max_r)} + 1)) AS k) k
  WHERE c.c <= n),
m AS (
  SELECT {id_col}, c, k,
         CASE WHEN c - k >= 1 AND c + k <= n
              AND substr(t, CAST(c - k AS INT), CAST(k AS INT))
                  = reverse(substr(t, CAST(c + 1 AS INT), CAST(k AS INT)))
              THEN 1 ELSE 0 END AS ok
  FROM ex),
r AS (
  SELECT {id_col}, c, max(k) AS r FROM (
    SELECT {id_col}, c, k, ok,
           min(ok) OVER (PARTITION BY {id_col}, c ORDER BY k
                         ROWS UNBOUNDED PRECEDING) AS runmin
    FROM m) q
  WHERE runmin = 1 GROUP BY 1, 2),
best AS (
  SELECT {id_col}, c AS center, r * 2 + 1 AS best_len FROM (
    SELECT *, row_number() OVER (PARTITION BY {id_col}
        ORDER BY r DESC, c) AS pk FROM r) b
  WHERE pk = 1)
SELECT d.{id_col}, coalesce(best.center, 1) AS center,
       coalesce(best.best_len, 1) AS best_len
FROM d LEFT JOIN best ON best.{id_col} = d.{id_col}"""


def suffix_array(docs: DataFrame, prefix: int = 64,
                 text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Suffix array of each document's first ``prefix`` chars by PREFIX
    DOUBLING (Manber-Myers 1990, public literature — the scalable SA
    construction): start from single-char ranks (ascii), and each round
    re-ranks suffixes by the pair (rank_i, rank_{i+2^k}) — the second
    component is ONE lead(r, 2^k) window over position order, the re-rank
    ONE dense_rank window per document; log2(prefix) rounds total.
    Suffix ranks are total (suffix lengths differ), so the final ranks
    are a permutation = the suffix array.

    Output: (doc_id, i, sa_rank) — suffix starting at 1-based position i
    has lexicographic rank sa_rank.

    Scale shape: 2 windows per round keyed by document, lineage cut per
    round — at 100 TB this is the standard distributed SA recipe (sort by
    packed (r1, r2) keys per round); no per-doc Python anywhere."""
    L = int(prefix)
    d = docs.select(
        F.col(id_col).alias("d"),
        F.substring(F.col(text_col), 1, L).alias("t"),
        F.least(F.length(text_col), F.lit(L)).alias("n"),
    ).filter(F.col("n") > 0)
    rows = d.select(
        "d", F.explode(F.sequence(F.lit(1), F.col("n"))).alias("i"), F.col("t")
    ).select(
        "d", "i",
        F.ascii(F.expr("substring(t, i, 1)")).cast("long").alias("r"),
    ).localCheckpoint()
    k = 1
    while k < L:
        wi = Window.partitionBy("d").orderBy("i")
        wr = Window.partitionBy("d").orderBy("r", "r2")
        rows = (
            rows.withColumn("r2", F.coalesce(F.lead("r", k).over(wi),
                                             F.lit(-1).cast("long")))
            .withColumn("rn", F.dense_rank().over(wr).cast("long"))
            .select("d", "i", F.col("rn").alias("r"))
            .localCheckpoint()
        )
        k *= 2
    return rows.select(F.col("d").alias(id_col), "i", F.col("r").alias("sa_rank"))


def suffix_array_sql(rel: str = "documents", prefix: int = 64,
                     text_col: str = "text", id_col: str = "doc_id") -> str:
    """DuckDB twin of ``suffix_array`` (chained doubling CTEs)."""
    L = int(prefix)
    blocks = [f"""r0 AS MATERIALIZED (
  SELECT {id_col} AS d, i.i AS i,
         CAST(ascii(substr(t, CAST(i.i AS INT), 1)) AS BIGINT) AS r
  FROM (SELECT {id_col}, substr({text_col}, 1, {L}) AS t,
               least(length({text_col}), {L}) AS n
        FROM {rel} WHERE length({text_col}) > 0) b,
       (SELECT unnest(range(1, {L} + 1)) AS i) i
  WHERE i.i <= b.n)"""]
    idx, k = 0, 1
    while k < L:
        blocks.append(f"""r{idx + 1} AS MATERIALIZED (
  SELECT d, i, CAST(dense_rank() OVER (PARTITION BY d ORDER BY r, r2)
               AS BIGINT) AS r
  FROM (
    SELECT d, i, r,
           coalesce(lead(r, {k}) OVER (PARTITION BY d ORDER BY i), -1) AS r2
    FROM r{idx}) s)""")
        idx += 1
        k *= 2
    return ("WITH " + ",\n".join(blocks)
            + f"\nSELECT d AS {id_col}, i, r AS sa_rank FROM r{idx}")


def lcs_substring_pairs(
    docs: DataFrame,
    pair_with: int = 1,
    prefix: int = 48,
    max_l: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Longest common SUBSTRING length between doc i and doc i+pair_with,
    exact, via the suffix-array identity: the LCS of strings a, b is the
    maximal LCP between a suffix of a and a suffix of b, and in the
    suffix array of ``a + '#' + b`` that maximum is attained by two
    RANK-ADJACENT suffixes from different sides — so sort the merged
    suffixes (the prefix-doubling machinery), take adjacent cross-side
    pairs, and measure each LCP directly as the longest prefix of
    matching chars (bounded ``max_l``, running-min window — the
    palindromes discipline).  '#' is outside the corpus alphabet, so no
    match crosses the separator.

    Output: (a_id, b_id, lcs_len).

    Scale shape: everything is the SA windows + one bounded explode —
    the exact-substring-overlap primitive of near-dup forensics."""
    half = int(prefix)
    a = docs.select(F.col(id_col).alias("a_id"),
                    F.substring(text_col, 1, half).alias("ta"))
    b = docs.select((F.col(id_col) - int(pair_with)).alias("a_id"),
                    F.col(id_col).alias("b_id"),
                    F.substring(text_col, 1, half).alias("tb"))
    pairs = a.join(b, "a_id").select(
        "a_id", "b_id",
        F.concat(F.col("ta"), F.lit("#"), F.col("tb")).alias("t"),
        (F.length("ta") + 1).alias("sep"),
        (F.length("ta") + 1 + F.length("tb")).alias("n"),
    )
    pid = pairs.select(
        (F.col("a_id") * 1048576 + F.col("b_id")).alias("doc_id"),
        F.col("t").alias("text"), "sep",
    )
    sa = suffix_array(pid, prefix=2 * half + 1)
    j = sa.join(pid.select("doc_id", F.col("text").alias("t"), "sep"), "doc_id")
    w = Window.partitionBy("doc_id").orderBy("sa_rank")
    adj = (
        j.withColumn("side", (F.col("i") > F.col("sep")).cast("int"))
        .withColumn("pi", F.lag("i").over(w))
        .withColumn("pside", F.lag("side").over(w))
        .filter(F.col("pside").isNotNull() & (F.col("side") != F.col("pside")))
    )
    ex = adj.select(
        "doc_id", "t", "i", "pi",
        F.explode(F.sequence(F.lit(1), F.lit(int(max_l)))).alias("L"),
    ).withColumn(
        "ok",
        (F.expr("substring(t, i, L)") == F.expr("substring(t, pi, L)"))
        & (F.length(F.expr("substring(t, i, L)")) == F.col("L"))
        & (F.length(F.expr("substring(t, pi, L)")) == F.col("L"))
        & ~F.expr("substring(t, i, L)").contains("#"),
    )
    wk = Window.partitionBy("doc_id", "i", "pi").orderBy("L").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    lcp = (
        ex.withColumn("rm", F.min(F.col("ok").cast("int")).over(wk))
        .filter(F.col("rm") == 1)
        .groupBy("doc_id")
        .agg(F.max("L").alias("lcs_len"))
    )
    return (
        pid.select("doc_id").distinct()
        .join(lcp, "doc_id", "left")
        .select(
            F.expr("doc_id div 1048576").alias("a_id"),
            (F.col("doc_id") % 1048576).alias("b_id"),
            F.coalesce(F.col("lcs_len"), F.lit(0)).cast("long").alias("lcs_len"),
        )
    )


def lcs_substring_pairs_sql(
    rel: str = "documents",
    pair_with: int = 1,
    prefix: int = 48,
    max_l: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of ``lcs_substring_pairs`` (SA CTEs over the merged
    strings + the bounded adjacent-LCP windows)."""
    half = int(prefix)
    L2 = 2 * half + 1
    pairs = f"""
SELECT a.{id_col} * 1048576 + b.{id_col} AS doc_id,
       substr(a.{text_col}, 1, {half}) || '#' || substr(b.{text_col}, 1, {half}) AS text,
       length(substr(a.{text_col}, 1, {half})) + 1 AS sep
FROM {rel} a JOIN {rel} b ON b.{id_col} = a.{id_col} + {int(pair_with)}"""
    sa = suffix_array_sql(f"({pairs})", prefix=L2, text_col="text",
                          id_col="doc_id")
    return f"""
WITH pid AS MATERIALIZED ({pairs}),
sa AS MATERIALIZED ({sa}),
j AS (
  SELECT sa.doc_id, sa.i, sa.sa_rank, p.text AS t, p.sep,
         CASE WHEN sa.i > p.sep THEN 1 ELSE 0 END AS side
  FROM sa JOIN pid p ON p.doc_id = sa.doc_id),
adj AS (
  SELECT doc_id, t, i,
         lag(i) OVER (PARTITION BY doc_id ORDER BY sa_rank) AS pi,
         side,
         lag(side) OVER (PARTITION BY doc_id ORDER BY sa_rank) AS pside
  FROM j),
cross_adj AS (
  SELECT doc_id, t, i, pi FROM adj
  WHERE pside IS NOT NULL AND side <> pside),
ex AS (
  SELECT doc_id, t, i, pi, l.l AS L,
         CASE WHEN substr(t, CAST(i AS INT), CAST(l.l AS INT))
                   = substr(t, CAST(pi AS INT), CAST(l.l AS INT))
              AND length(substr(t, CAST(i AS INT), CAST(l.l AS INT))) = l.l
              AND length(substr(t, CAST(pi AS INT), CAST(l.l AS INT))) = l.l
              AND position('#' IN substr(t, CAST(i AS INT), CAST(l.l AS INT))) = 0
              THEN 1 ELSE 0 END AS ok
  FROM cross_adj, (SELECT unnest(range(1, {int(max_l)} + 1)) AS l) l),
lcp AS (
  SELECT doc_id, max(L) AS lcs_len FROM (
    SELECT doc_id, i, pi, L, ok,
           min(ok) OVER (PARTITION BY doc_id, i, pi ORDER BY L
                         ROWS UNBOUNDED PRECEDING) AS rm
    FROM ex) q
  WHERE rm = 1 GROUP BY 1)
SELECT p.doc_id // 1048576 AS a_id, p.doc_id % 1048576 AS b_id,
       coalesce(l.lcs_len, 0) AS lcs_len
FROM (SELECT DISTINCT doc_id FROM pid) p
LEFT JOIN lcp l ON l.doc_id = p.doc_id"""


def bwt_inverse(bwt: DataFrame, length: int = 33,
                id_col: str = "doc_id", bwt_col: str = "bwt") -> DataFrame:
    """Inverse Burrows-Wheeler transform by LF-mapping POINTER DOUBLING:
    LF(i) = C[b_i] + rank_i (one window rank + one char-count join), the
    jump tables LF^(2^k) by log2(n) permutation self-joins, and every
    output position j walks its binary decomposition through those
    tables simultaneously — O(log n) rounds total instead of an O(n)
    sequential walk (the watershed pointer-doubling discipline applied
    to permutations).  The walk from the sentinel row C['!']
    yields the text backwards ending on the sentinel, so the reversed
    aggregate reads sentinel-first and ONE left rotation restores the
    original (verified by the ok flag against the source text).

    Output: (doc_id, recon) — equal to the BWT'd string for every doc.

    Scale shape: ~2*log2(n) keyed equi-joins, each row-linear; no
    per-doc sequential state anywhere."""
    n = int(length)
    bits = []
    k = 1
    while k < n:
        bits.append(k)
        k *= 2
    rows = bwt.select(
        F.col(id_col).alias("d"), F.col(bwt_col).alias("b"),
    ).select(
        "d",
        F.posexplode(F.split(F.col("b"), "(?!^)")).alias("i", "ch"),
    ).filter(F.col("ch") != "").localCheckpoint()
    # LF(i) = C[ch] + occ-rank of position i among same-char positions
    wch = Window.partitionBy("d", "ch").orderBy("i")
    cnt = rows.groupBy("d", "ch").agg(F.count(F.lit(1)).alias("nc"))
    wc = Window.partitionBy("d").orderBy("ch").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cbase = cnt.withColumn("C", F.coalesce(F.sum("nc").over(wc), F.lit(0)))
    lf = (
        rows.withColumn("occ", (F.row_number().over(wch) - 1).cast("long"))
        .join(cbase.select("d", "ch", "C"), ["d", "ch"])
        .select("d", F.col("i").cast("long").alias("i"),
                (F.col("C") + F.col("occ")).cast("long").alias("lf"), "ch")
        .localCheckpoint()
    )
    # jump tables LF^(2^k) by self-composition
    jumps = {1: lf.select("d", "i", F.col("lf").alias("j"))}
    k = 1
    while k * 2 < n:
        prev = jumps[k]
        comp = (
            prev.alias("a")
            .join(prev.alias("b"),
                  (F.col("a.d") == F.col("b.d")) & (F.col("a.j") == F.col("b.i")))
            .select(F.col("a.d").alias("d"), F.col("a.i").alias("i"),
                    F.col("b.j").alias("j"))
            .localCheckpoint()
        )
        jumps[k * 2] = comp
        k *= 2
    # every output step j walks its binary decomposition from the
    # SENTINEL row — the rank of '!' in the first column (C['!']); row 0
    # would be a space-led rotation (space sorts below '!')
    start = cbase.filter(F.col("ch") == "!").select(
        "d", F.col("C").cast("long").alias("cur0")
    )
    docs = rows.select("d").distinct().join(start, "d")
    state = docs.select(
        "d", F.col("cur0"),
        F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("step"),
    ).withColumn("cur", F.col("cur0")).drop("cur0").localCheckpoint()
    for kk in reversed(bits):
        jt = jumps.get(kk)
        if jt is None:
            continue
        hit = F.expr(f"(step div {kk}) % 2 = 1")
        state = (
            state.join(
                jt.select(F.col("d"), F.col("i").alias("cur"),
                          F.col("j").alias("nxt")),
                ["d", "cur"], "left",
            )
            .select(
                "d", "step",
                F.when(hit, F.col("nxt")).otherwise(F.col("cur")).alias("cur"),
            )
            .localCheckpoint()
        )
    chars = state.join(
        lf.select("d", F.col("i").alias("cur"), "ch"), ["d", "cur"]
    )
    agg = chars.groupBy(F.col("d").alias(id_col)).agg(
        F.reverse(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("step", "ch"))),
                    lambda s: s["ch"],
                ), "",
            )
        ).alias("rev")
    )
    # the reversed walk reads sentinel-first ('!banana' for 'banana!');
    # one left rotation restores the original string
    return agg.select(
        id_col,
        F.concat(F.expr("substring(rev, 2)"),
                 F.expr("substring(rev, 1, 1)")).alias("recon"),
    )


def bwt_inverse_sql(bwt_select: str, length: int = 33,
                    id_col: str = "doc_id", bwt_col: str = "bwt") -> str:
    """DuckDB twin of ``bwt_inverse`` (same jump tables as chained CTEs)."""
    n = int(length)
    bits = []
    k = 1
    while k < n:
        bits.append(k)
        k *= 2
    blocks = [f"""rows0 AS MATERIALIZED (
  SELECT {id_col} AS d, CAST(i.i - 1 AS BIGINT) AS i,
         substr({bwt_col}, CAST(i.i AS INT), 1) AS ch
  FROM ({bwt_select}) b, (SELECT unnest(range(1, {n} + 1)) AS i) i
  WHERE i.i <= length({bwt_col})),
cnt AS (
  SELECT d, ch, count(*) AS nc FROM rows0 GROUP BY 1, 2),
cbase AS (
  SELECT d, ch,
         coalesce(sum(nc) OVER (PARTITION BY d ORDER BY ch
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS C
  FROM cnt),
lf AS MATERIALIZED (
  SELECT r.d, r.i,
         cb.C + row_number() OVER (PARTITION BY r.d, r.ch ORDER BY r.i) - 1 AS j,
         r.ch
  FROM rows0 r JOIN cbase cb ON cb.d = r.d AND cb.ch = r.ch),
j1 AS MATERIALIZED (SELECT d, i, j FROM lf)"""]
    k = 1
    while k * 2 < n:
        blocks.append(f"""j{k * 2} AS MATERIALIZED (
  SELECT a.d, a.i, b.j FROM j{k} a JOIN j{k} b ON b.d = a.d AND b.i = a.j)""")
        k *= 2
    blocks.append(f"""s0 AS MATERIALIZED (
  SELECT cb.d, st.step, CAST(cb.C AS BIGINT) AS cur
  FROM cbase cb, (SELECT unnest(range({n})) AS step) st
  WHERE cb.ch = '!')""")
    idx = 0
    for kk in reversed(bits):
        blocks.append(f"""s{idx + 1} AS MATERIALIZED (
  SELECT s.d, s.step,
         CASE WHEN (s.step // {kk}) % 2 = 1 THEN jt.j ELSE s.cur END AS cur
  FROM s{idx} s LEFT JOIN j{kk} jt ON jt.d = s.d AND jt.i = s.cur)""")
        idx += 1
    return ("WITH " + ",\n".join(blocks) + f"""
SELECT {id_col},
       substr(rev, 2) || substr(rev, 1, 1) AS recon
FROM (
  SELECT s.d AS {id_col},
         reverse(string_agg(l.ch, '' ORDER BY s.step)) AS rev
  FROM s{idx} s JOIN lf l ON l.d = s.d AND l.i = s.cur
  GROUP BY 1) fin""")


_MTF_ALPHABET = " !abcdefghijklmnopqrstuvwxyz"


def mtf_encode(docs: DataFrame, cap: int = 64,
               text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Move-to-front coding (Bentley et al. 1986 — the bzip2 stage
    between BWT and entropy coding; with `bwt`, `rle_segments` and
    `huffman` this completes the gated bzip2 chain): codes are positions
    in a recency list over the fixed alphabet ' !a-z', the hit char
    moving to front after each step.  The engine is one mapInPandas
    parse; the oracle carries the recency list as a plain STRING in a
    lockstep recursive CTE (newlist = ch || replace(list, ch, '')).

    Output: (doc_id, i, code), i 1-based over the first ``cap`` chars."""

    def codes(row, t):
        lst = list(_MTF_ALPHABET)
        out = []
        for ch in (t or "")[:cap]:
            code = lst.index(ch)
            lst.insert(0, lst.pop(code))
            out.append(code)
        return {"doc_id": row["doc_id"], "i": np.arange(1, len(out) + 1),
                "code": out}

    return _docs(docs, id_col, text_col, "i long, code long", codes)


def mtf_encode_sql(rel: str = "documents", cap: int = 64,
                   text_col: str = "text", id_col: str = "doc_id") -> str:
    """DuckDB twin of ``mtf_encode``."""
    return f"""
WITH RECURSIVE d AS MATERIALIZED (
  SELECT {id_col} AS doc_id, substr({text_col}, 1, {int(cap)}) AS t,
         least(length({text_col}), {int(cap)}) AS n
  FROM {rel} WHERE length({text_col}) > 0),
st AS (
  SELECT doc_id, t, n, CAST(0 AS BIGINT) AS i,
         '{_MTF_ALPHABET}' AS lst, CAST(NULL AS BIGINT) AS code
  FROM d
  UNION ALL
  SELECT doc_id, t, n, i + 1,
         substr(t, CAST(i + 1 AS INT), 1)
           || replace(lst, substr(t, CAST(i + 1 AS INT), 1), ''),
         CAST(position(substr(t, CAST(i + 1 AS INT), 1) IN lst) - 1 AS BIGINT)
  FROM st WHERE i < n)
SELECT doc_id, i, code FROM st WHERE i > 0"""


def vocab_growth(docs: DataFrame, checkpoints: tuple = (50, 100, 200, 350, 500),
                 text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heaps-law vocabulary growth curve: distinct token types and total
    tokens among the first k documents (by id) for each checkpoint — the
    V(N) curve whose log-log slope is Heaps' beta; exact integers, slope
    left to the caller (no logs).  Pairs with `vocab_stats` (the Zipf
    view) and `cum_distinct` (the per-key running variant).

    Scale shape: one explode + one distinct-count per checkpoint over the
    same scan (checkpoints are a handful)."""
    toks = docs.select(
        F.col(id_col).alias("d"),
        F.explode(F.split(F.col(text_col), " ")).alias("t"),
    ).filter(F.col("t") != "").localCheckpoint()
    out = None
    for k in checkpoints:
        sub = toks.filter(F.col("d") < int(k))
        row = sub.agg(
            F.countDistinct("t").alias("vocab"),
            F.count("*").alias("n_tokens"),
        ).select(F.lit(int(k)).cast("long").alias("k"), "vocab", "n_tokens")
        out = row if out is None else out.unionByName(row)
    return out


def vocab_growth_sql(rel: str = "documents",
                     checkpoints: tuple = (50, 100, 200, 350, 500),
                     text_col: str = "text", id_col: str = "doc_id") -> str:
    """DuckDB twin of ``vocab_growth``."""
    blocks = []
    for k in checkpoints:
        blocks.append(f"""
SELECT {int(k)} AS k,
       count(DISTINCT t) AS vocab, count(*) AS n_tokens
FROM (SELECT unnest(string_split({text_col}, ' ')) AS t
      FROM {rel} WHERE {id_col} < {int(k)}) u
WHERE t <> ''""")
    return " UNION ALL ".join(blocks)
