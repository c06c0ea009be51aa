"""Deduplication for training-data pipelines: exact, n-gram Jaccard,
MinHash+LSH, SimHash.

Our additions (no analog in the reference).  All hashing is md5 (identical
hex in Spark and DuckDB), so every pipeline stage has a bit-exact oracle.

Scale notes
-----------
* exact: groupBy(md5) — partial agg, no skew issue.
* jaccard all-pairs: self-join on shingle; hot shingles explode — the
  exact baseline.  MinHash+LSH is the scale path: candidates come from
  band-bucket equi-joins (bounded fan-out), then exact verification.
* simhash: 64-bit signature; near-dup candidates via 16-bit band join +
  popcount Hamming filter (bit_count is a built-in in both engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .buckets import DEFAULT_MAX_BUCKET
from .partitioning import spread_small_scan


# ---------------------------------------------------------------- exact

def exact_dedup_groups(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(content_hash, n_copies, canonical_id): canonical = min id per group."""
    return (
        docs.select(F.md5(F.col(text_col).cast("binary")).alias("h"), F.col(id_col))
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min(id_col).alias("canonical_id"))
    )


def exact_dedup_sql(rel: str = "documents", text: str = "text", id_col: str = "doc_id") -> str:
    return f"""
SELECT md5({text}) AS h, count(*) AS n_copies, min({id_col}) AS canonical_id
FROM {rel} GROUP BY 1"""


# ---------------------------------------------------------------- shingles

def shingles_raw(docs: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Word n-gram shingles per doc WITH duplicates (no shuffle at all) —
    enough for any per-doc MIN/MAX aggregate (minhash) where repeated
    shingles can't change the result."""
    toks = F.split(F.col(text_col), " ")
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - n + 1, F.lit(1)))
    sh = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    return docs.select(F.col(id_col), F.explode(sh).alias("s"))


def shingles(docs: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Distinct word n-gram shingles per doc (space tokenization)."""
    return shingles_raw(docs, n, text_col, id_col).distinct()


def shingles_sql(rel: str = "documents", n: int = 3, text: str = "text", id_col: str = "doc_id") -> str:
    # list comprehension instead of lateral generate_series (DuckDB 1.0
    # rejects column parameters in lateral table functions)
    return f"""
SELECT DISTINCT {id_col},
       unnest([array_to_string(w[p:p+{n - 1}], ' ')
               for p in generate_series(1, greatest(len(w) - {n} + 1, 1))]) AS s
FROM (SELECT {id_col}, string_split({text}, ' ') AS w FROM {rel}) t"""


# ---------------------------------------------------------------- jaccard all-pairs (exact baseline)

def jaccard_pairs(docs: DataFrame, n: int = 3, min_common: int = 2,
                  text_col: str = "text", id_col: str = "doc_id",
                  max_shingle_df: int | None = None) -> DataFrame:
    """All doc pairs sharing >= min_common shingles, with exact Jaccard.

    Output: (a, b, common, na, nb, jaccard) — jaccard is an int/int division,
    bit-exact.  Exact O(sum over shingles of df^2) baseline; use minhash_lsh
    at scale.

    ``max_shingle_df``: guardrail against quadratic hot shingles (a single
    stop-shingle with document frequency d costs d^2 join rows).  Shingles
    whose df exceeds the cap are EXCLUDED from pair generation (standard
    stop-shingle pruning); sizes (na/nb) still count every shingle, so the
    reported jaccard becomes a LOWER BOUND for pairs that relied on capped
    shingles — None (default) keeps the exact oracle semantics."""
    sh = shingles(spread_small_scan(docs), n, text_col, id_col)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("nsh"))
    if max_shingle_df is not None:
        rare = (
            sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_shingle_df)
            .select("s")
        )
        sh = sh.join(rare, "s", "left_semi")
    a = sh.alias("a")
    b = sh.alias("b")
    pairs = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("a"), F.col(f"b.{id_col}").alias("b"))
        .agg(F.count(F.lit(1)).alias("common"))
        .filter(F.col("common") >= min_common)
    )
    sa = sizes.select(F.col(id_col).alias("a"), F.col("nsh").alias("na"))
    sb = sizes.select(F.col(id_col).alias("b"), F.col("nsh").alias("nb"))
    return (
        pairs.join(sa, "a").join(sb, "b")
        .select(
            "a", "b", "common", "na", "nb",
            (F.col("common").cast("double")
             / (F.col("na") + F.col("nb") - F.col("common")).cast("double")).alias("jaccard"),
        )
    )


def jaccard_pairs_sql(rel: str = "documents", n: int = 3, min_common: int = 2,
                      text: str = "text", id_col: str = "doc_id") -> str:
    return f"""
WITH sh AS ({shingles_sql(rel, n, text, id_col)}),
sizes AS (SELECT {id_col}, count(*) AS nsh FROM sh GROUP BY 1),
pairs AS (
  SELECT a.{id_col} AS a, b.{id_col} AS b, count(*) AS common
  FROM sh a JOIN sh b ON a.s = b.s AND a.{id_col} < b.{id_col}
  GROUP BY 1, 2 HAVING count(*) >= {min_common})
SELECT p.a, p.b, p.common, sa.nsh AS na, sb.nsh AS nb,
       CAST(p.common AS DOUBLE) / CAST(sa.nsh + sb.nsh - p.common AS DOUBLE) AS jaccard
FROM pairs p JOIN sizes sa ON sa.{id_col} = p.a JOIN sizes sb ON sb.{id_col} = p.b"""


# ---------------------------------------------------------------- minhash + LSH

N_HASHES = 8
BAND_SIZE = 2  # 4 bands of 2 hashes


def minhash_signatures(docs: DataFrame, n: int = 3,
                       text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Wide signature row per doc: mh0..mh{N-1}, minhash i = lexicographic
    min of md5(i || ':' || shingle) — ONE map-side-combining shuffle instead
    of an 8x explode (string-min minhash keeps every stage portable to the
    SQL oracle).  Built on shingles_raw: duplicate shingles cannot change a
    MIN, so the distinct's extra full shuffle is skipped entirely."""
    sh = shingles_raw(spread_small_scan(docs), n, text_col, id_col)
    aggs = [
        F.min(
            F.md5(F.concat(F.lit(f"{i}:"), F.col("s")).cast("binary"))
        ).alias(f"mh{i}")
        for i in range(N_HASHES)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def lsh_candidates(sigs: DataFrame, id_col: str = "doc_id",
                   max_bucket: int | None = DEFAULT_MAX_BUCKET) -> DataFrame:
    """Band-bucket candidates: pairs sharing at least one band (distinct).

    Single-pass formulation: bands come from ONE explode over the signature
    row (not a union of per-band projections — a union recomputes the whole
    signature aggregation once per band per join side, 8x here), buckets
    from one groupBy, and pairs are generated inside each bucket with array
    combinatorics (no self-join, so the signature subtree is evaluated
    exactly once).  ``max_bucket`` excludes degenerate buckets (e.g. every
    empty doc hashing identically) before any list materializes, with
    logged drop accounting — see operators/buckets.cap_buckets.  The cap is
    ON by default (DEFAULT_MAX_BUCKET) — at corpus scale an uncapped
    degenerate bucket is an O(b^2) task bomb; oracle gates pass None
    explicitly to keep exact semantics (and skip the counting pass)."""
    from .buckets import cap_buckets

    n_bands = N_HASHES // BAND_SIZE
    band_arr = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                "|", *[F.col(f"mh{b * BAND_SIZE + j}") for j in range(BAND_SIZE)]
            ).alias("bkey"),
        )
        for b in range(n_bands)
    ])
    bands = sigs.select(F.col(id_col), F.explode(band_arr).alias("bb")).select(
        F.col(id_col), F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey")
    )
    if max_bucket is not None:
        # the counting pass must not re-run the sigs pipeline; eager
        # localCheckpoint (not persist) so the blocks are GC-reclaimed
        # instead of pinned in the CacheManager for the session (r2 leak)
        bands = bands.localCheckpoint()
        bands = cap_buckets(bands, ["band", "bkey"], max_bucket, "lsh_candidates")
    buckets = (
        bands.groupBy("band", "bkey")
        .agg(F.collect_list(F.col(id_col)).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    return (
        buckets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (x, i) -> "
                    "transform(slice(ids, i + 2, size(ids) - i - 1), "
                    "y -> struct(least(x, y) AS a, greatest(x, y) AS b))))"
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
        .distinct()
    )


def minhash_lsh_pairs(docs: DataFrame, n: int = 3, threshold: float = 0.25,
                      text_col: str = "text", id_col: str = "doc_id",
                      max_bucket: int | None = DEFAULT_MAX_BUCKET) -> DataFrame:
    """LSH candidates -> exact Jaccard verification >= threshold.

    Output (a, b, jaccard).

    Shuffle budget: signatures aggregate UN-deduped shingles (min is
    dedup-insensitive), and exact verification only ever materializes the
    shingle sets of docs that appear in some candidate pair (left_semi
    prune BEFORE the distinct) — at scale the candidate set is a tiny
    fraction of the corpus, so the big distinct shuffle shrinks with it.

    Cache lifecycle: the candidate table is eagerly ``localCheckpoint``-ed —
    it feeds three consumers (ids for the semi-prune, both sides of the
    common-shingle join), so the signature pipeline underneath must run
    once, and unlike a CacheManager persist (which pins blocks until an
    explicit unpersist — the r2 leak) checkpoint blocks are reclaimed by
    the ContextCleaner as soon as the plan is unreachable."""
    docs = spread_small_scan(docs)
    sigs = minhash_signatures(docs, n, text_col, id_col)
    cand = lsh_candidates(sigs, id_col, max_bucket=max_bucket).localCheckpoint()
    cand_ids = (
        cand.select(F.col("a").alias(id_col))
        .unionByName(cand.select(F.col("b").alias(id_col)))
        .distinct()
    )
    sh = (
        shingles_raw(docs, n, text_col, id_col)
        .join(cand_ids, id_col, "left_semi")
        .distinct()
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("nsh"))
    common = (
        cand.join(sh.select(F.col(id_col).alias("a"), "s"), "a")
        .join(sh.select(F.col(id_col).alias("b"), "s"), ["b", "s"])  # composite equi-key
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    j = (
        common.join(sizes.select(F.col(id_col).alias("a"), F.col("nsh").alias("na")), "a")
        .join(sizes.select(F.col(id_col).alias("b"), F.col("nsh").alias("nb")), "b")
        .select(
            "a", "b",
            (F.col("common").cast("double")
             / (F.col("na") + F.col("nb") - F.col("common")).cast("double")).alias("jaccard"),
        )
    )
    return j.filter(F.col("jaccard") >= threshold)


def minhash_lsh_sql(rel: str = "documents", n: int = 3, threshold: float = 0.25,
                    text: str = "text", id_col: str = "doc_id") -> str:
    return f"""
WITH sh AS ({shingles_sql(rel, n, text, id_col)}),
sigs AS (
  SELECT {id_col}, i.i, min(md5(CAST(i.i AS VARCHAR) || ':' || s)) AS mh
  FROM sh, generate_series(0, {N_HASHES - 1}) i(i) GROUP BY 1, 2),
bands AS (
  SELECT {id_col}, (i // {BAND_SIZE}) AS band,
         concat_ws('|', min(CASE WHEN i % {BAND_SIZE} = 0 THEN mh END),
                        min(CASE WHEN i % {BAND_SIZE} = 1 THEN mh END)) AS bkey
  FROM sigs GROUP BY 1, 2),
cand AS (
  SELECT DISTINCT a.{id_col} AS a, b.{id_col} AS b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bkey = b.bkey AND a.{id_col} < b.{id_col}),
sizes AS (SELECT {id_col}, count(*) AS nsh FROM sh GROUP BY 1),
common AS (
  SELECT c.a, c.b, count(*) AS common
  FROM cand c JOIN sh x ON x.{id_col} = c.a JOIN sh y ON y.{id_col} = c.b AND y.s = x.s
  GROUP BY 1, 2)
SELECT m.a, m.b,
       CAST(m.common AS DOUBLE) / CAST(sa.nsh + sb.nsh - m.common AS DOUBLE) AS jaccard
FROM common m JOIN sizes sa ON sa.{id_col} = m.a JOIN sizes sb ON sb.{id_col} = m.b
WHERE CAST(m.common AS DOUBLE) / CAST(sa.nsh + sb.nsh - m.common AS DOUBLE) >= {threshold}"""


# ---------------------------------------------------------------- simhash

def simhash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash over whitespace tokens (distinct-token weighting).

    Token hash = first 15 hex chars of md5 (60 bits, so bits 0..59 are real;
    bits 60..63 stay 0 — documented deviation, keeps conv() in int64 range).
    Bit b of the signature = 1 iff sum over tokens of (bit_b(h)*2-1) > 0.
    """
    docs = spread_small_scan(docs)
    toks = docs.select(
        F.col(id_col), F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("t")
    )
    h = toks.select(
        id_col,
        F.conv(F.substring(F.md5(F.col("t").cast("binary")), 1, 15), 16, 10).cast("long").alias("h"),
    )
    bits = h.select(
        id_col,
        F.explode(F.sequence(F.lit(0), F.lit(59))).alias("b"),
        F.col("h"),
    ).select(
        id_col, "b",
        (F.expr("shiftright(h, CAST(b AS INT)) & 1") * 2 - 1).alias("v"),
    )
    return (
        bits.groupBy(id_col, "b")
        .agg(F.sum("v").alias("sv"))
        .select(
            id_col,
            F.expr(
                "CASE WHEN sv > 0 THEN shiftleft(CAST(1 AS BIGINT), CAST(b AS INT)) ELSE CAST(0 AS BIGINT) END"
            ).alias("bitval"),
        )
        .groupBy(id_col)
        .agg(F.sum("bitval").alias("simhash"))
    )


def _hex15_to_bigint_sql(col: str) -> str:
    """Portable hex→bigint: positional digit sum (DuckDB lacks conv())."""
    terms = [
        f"(strpos('0123456789abcdef', substr({col}, {i + 1}, 1)) - 1) * {16 ** (14 - i)}"
        for i in range(15)
    ]
    return "(" + " + ".join(terms) + ")"


def simhash_sql(rel: str = "documents", text: str = "text", id_col: str = "doc_id") -> str:
    return f"""
WITH toks AS (
  SELECT DISTINCT {id_col}, t FROM (
    SELECT {id_col}, unnest(string_split({text}, ' ')) AS t FROM {rel}) u),
h AS (
  SELECT {id_col},
         CAST({_hex15_to_bigint_sql("substr(md5(t), 1, 15)")} AS BIGINT) AS h
  FROM toks),
bits AS (
  SELECT {id_col}, b.b, sum(((h >> b.b) & 1) * 2 - 1) AS sv
  FROM h, generate_series(0, 59) b(b) GROUP BY 1, 2)
SELECT {id_col}, CAST(sum(CASE WHEN sv > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
FROM bits GROUP BY 1"""


def simhash_near_dups(sims: DataFrame, max_hamming: int = 8, id_col: str = "doc_id",
                      max_bucket: int | None = DEFAULT_MAX_BUCKET) -> DataFrame:
    """Near-dup pairs by Hamming distance: 15-bit band buckets (4 bands) then
    exact popcount filter — any pair within Hamming<=3 shares a band; larger
    radii are still caught when any band matches (standard LSH recall).
    Single-pass bucket formulation (see lsh_candidates): no self-join, the
    signature aggregation underneath is evaluated once.  ``max_bucket``
    drops degenerate buckets with logged accounting (buckets.cap_buckets)."""
    from .buckets import cap_buckets

    bands = sims.select(
        F.col(id_col), F.col("simhash"),
        F.explode(
            F.array(*[
                F.concat(F.lit(f"{i}:"), F.shiftright(F.col("simhash"), 15 * i).bitwiseAND(F.lit(0x7FFF)).cast("string"))
                for i in range(4)
            ])
        ).alias("bkey"),
    )
    if max_bucket is not None:
        # eager localCheckpoint, not persist: GC-reclaimed (see lsh_candidates)
        bands = bands.localCheckpoint()
        bands = cap_buckets(bands, ["bkey"], max_bucket, "simhash_near_dups")
    buckets = (
        bands.groupBy("bkey")
        .agg(F.collect_list(F.struct(F.col(id_col).alias("i"), F.col("simhash").alias("h"))).alias("xs"))
        .filter(F.size("xs") >= 2)
    )
    return (
        buckets.select(
            F.explode(
                F.expr(
                    "flatten(transform(xs, (x, i) -> "
                    "transform(slice(xs, i + 2, size(xs) - i - 1), "
                    "y -> IF(x.i < y.i, struct(x.i AS a, y.i AS b, x.h AS ha, y.h AS hb), "
                    "struct(y.i AS a, x.i AS b, y.h AS ha, x.h AS hb)))))"
                )
            ).alias("p")
        )
        .select(
            "p.a", "p.b",
            F.bit_count(F.col("p.ha").bitwiseXOR(F.col("p.hb"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------- incremental dedup
# The production APPEND shape: a corpus is deduplicated batch by batch
# against a compact history.  The history is the distinct (band, bkey) set
# of previously KEPT documents — 4 rows per doc (N_HASHES/BAND_SIZE), no
# text and no shingles retained.  Cross-batch matching is band-key
# membership (a Bloom-filter-style test: a shared band implies high
# estimated Jaccard; no exact verify against history is possible without
# the old shingle sets — the false-positive rate is the standard LSH
# band-collision rate and is documented, not hidden).  Within the batch the
# FULL exact pipeline runs (minhash_lsh_pairs -> transitive components),
# identical to the batch dedup gates.

def doc_bands(docs: DataFrame, n: int = 3, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """(id, band, bkey) rows for a document set — the unit of dedup history."""
    sigs = minhash_signatures(docs, n, text_col, id_col)
    n_bands = N_HASHES // BAND_SIZE
    band_arr = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                "|", *[F.col(f"mh{b * BAND_SIZE + j}") for j in range(BAND_SIZE)]
            ).alias("bkey"),
        )
        for b in range(n_bands)
    ])
    return sigs.select(F.col(id_col), F.explode(band_arr).alias("bb")).select(
        F.col(id_col), F.col("bb.band"), F.col("bb.bkey")
    )


def incremental_dedup(
    new_docs: DataFrame,
    seen_bands: DataFrame | None,
    n: int = 3,
    threshold: float = 0.25,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """Deduplicate a batch against (batch itself + history).

    Returns ``(decisions, kept_bands)``:

    - ``decisions``: one row per new doc — (id, keep, reason) with reason
      'history' (shares a band with a previously kept doc), 'batch'
      (non-canonical member of an in-batch near-dup cluster), or NULL
      (kept).  History drops take precedence; in-batch clustering runs on
      the full batch so a history-dropped doc still links its in-batch
      near-dups to one cluster (their survivor is then checked against
      history on its own bands).
    - ``kept_bands``: the band rows of this batch's KEPT docs — union them
      into the stored history for the next increment (the caller owns the
      storage; checkpoint stages fit naturally, cf. jobs/dedup_pipeline.py).

    Scale shape: history matching is one distinct + one left_semi-style
    equi-join on (band, bkey) — shuffle bounded by 4 rows/doc; no text or
    shingles cross batches.
    """
    from .graph import dedup_clusters

    # eager localCheckpoint, not persist: GC-reclaimed instead of pinned in
    # the CacheManager until session end
    bands = doc_bands(new_docs, n, text_col, id_col).localCheckpoint()

    if seen_bands is not None:
        hist_hit = (
            bands.join(
                seen_bands.select("band", "bkey").distinct(),
                ["band", "bkey"], "left_semi",
            )
            .select(id_col).distinct()
            .withColumn("_hist", F.lit(True))
        )
    else:
        hist_hit = None

    pairs = minhash_lsh_pairs(new_docs, n, threshold, text_col, id_col).select("a", "b")
    clusters = dedup_clusters(pairs, new_docs, id_col)

    dec = clusters.select(
        id_col,
        F.when(~F.col("keep"), F.lit("batch")).alias("reason"),
    )
    if hist_hit is not None:
        dec = (
            dec.join(hist_hit, id_col, "left")
            .select(
                id_col,
                F.when(F.col("_hist"), F.lit("history"))
                .otherwise(F.col("reason")).alias("reason"),
            )
        )
    dec = dec.select(id_col, F.col("reason").isNull().alias("keep"), "reason")
    kept_bands = bands.join(
        dec.filter("keep").select(id_col), id_col, "left_semi"
    )
    return dec, kept_bands


def jaccard_join_prefix(
    corpus: DataFrame,
    t_num: int = 3,
    t_den: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """EXACT Jaccard similarity join at threshold t = t_num/t_den via
    PREFIX FILTERING (PPJoin family) -> (a, b, common, sa, sb).

    The scale-exact counterpart of minhash_lsh (which is approximate):
    order every document's distinct tokens by GLOBAL (df, token) rarest
    first; two sets with Jaccard >= t must share a token within each
    other's first |X| - ceil(t*|X|) + 1 tokens, so the candidate
    self-join runs only over those prefix tokens — by construction the
    RAREST in the corpus, which is why the join's sum-of-df^2 stays
    bounded where a full-token self-join explodes on stopwords.
    Candidates are then verified with exact integer cross-multiplication
    (t_den * |A∩B| >= t_num * |A∪B|) — no floats anywhere."""
    toks = (
        corpus.select(
            F.col(id_col).alias("id"),
            F.explode(F.split(F.col(text_col), " ")).alias("tok"),
        )
        .distinct()
    )
    dfreq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    sizes = toks.groupBy("id").agg(F.count(F.lit(1)).alias("s"))
    w = Window.partitionBy("id").orderBy("df", "tok")
    ordered = toks.join(dfreq, "tok").withColumn("rn", F.row_number().over(w))
    pref = (
        ordered.join(sizes, "id")
        .filter(
            F.col("rn")
            <= F.col("s") - F.expr(f"({t_num} * s + {t_den - 1}) div {t_den}") + 1
        )
        .select("id", "tok")
    )
    a, b = pref.alias("a"), pref.alias("b")
    cand = (
        a.join(b, (F.col("a.tok") == F.col("b.tok")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("a"), F.col("b.id").alias("b"))
        .distinct()
    )
    ta = toks.select(F.col("id").alias("a"), "tok")
    tb = toks.select(F.col("id").alias("b"), "tok")
    common = (
        cand.join(ta, "a").join(tb, ["b", "tok"])
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    za = sizes.select(F.col("id").alias("a"), F.col("s").alias("sa"))
    zb = sizes.select(F.col("id").alias("b"), F.col("s").alias("sb"))
    return (
        common.join(za, "a").join(zb, "b")
        .filter(
            F.lit(t_den) * F.col("common")
            >= F.lit(t_num) * (F.col("sa") + F.col("sb") - F.col("common"))
        )
        .select("a", "b", "common", "sa", "sb")
    )


def edit_distance_join(
    df: DataFrame, str_col: str, id_col: str
) -> DataFrame:
    """All pairs at Levenshtein distance <= 1 via DELETION-NEIGHBORHOOD
    hashing (FastSS, d=1) -> (a, b, sa, sb, d).

    Each string explodes to its len+1 single-deletion variants (itself
    included); two strings within distance 1 provably share a variant
    (substitution: both delete the differing position; indel: the longer
    deletes the inserted char, the shorter keeps itself), so candidates
    come from ONE equi-join on the variant key — no all-pairs, no
    similarity scan.  Candidates are then verified with exact
    levenshtein().  Fuzzy-radius joins reduce to equi-joins this way at
    any scale; d>1 repeats the deletion recursively."""
    base = df.select(F.col(id_col).alias("id"), F.col(str_col).alias("s"))
    v = base.select(
        "id", "s",
        F.explode(F.expr(
            "transform(sequence(0, length(s)), "
            "i -> concat(left(s, i), substring(s, i + 2)))"
        )).alias("variant"),
    ).distinct()
    a, b = v.alias("a"), v.alias("b")
    cand = (
        a.join(b, (F.col("a.variant") == F.col("b.variant"))
               & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("a"), F.col("b.id").alias("b"),
            F.col("a.s").alias("sa"), F.col("b.s").alias("sb"),
        )
        .distinct()
    )
    return cand.withColumn("d", F.levenshtein("sa", "sb")).filter(F.col("d") <= 1)


def minhash_calibration(docs: DataFrame, n: int = 3,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """MinHash estimator calibration audit (the QA table every LSH dedup
    deployment needs: does signature agreement actually track Jaccard on
    THIS corpus?): for every LSH candidate pair, agree = the number of
    matching minhashes (the estimator, E[agree/N] = jaccard) and the
    EXACT integer (common, union) shingle counts; rolled up per agree
    level -> (agree, n_pairs, sum_common, sum_union), so mean exact
    jaccard per estimator bin is the ratio of two exact sums.

    Shape: signatures + banded candidates exactly as minhash_lsh_pairs
    (no all-pairs anywhere); the exact verify joins the candidate table
    to the distinct-shingle table twice (semi-bounded by candidates);
    one final tiny aggregation."""
    # eager localCheckpoint, not persist (see incremental_dedup)
    sigs = minhash_signatures(docs, n, text_col, id_col).localCheckpoint()
    cand = lsh_candidates(sigs, id_col)
    sa = sigs.select(F.col(id_col).alias("a"),
                     *[F.col(f"mh{i}").alias(f"a{i}") for i in range(N_HASHES)])
    sb = sigs.select(F.col(id_col).alias("b"),
                     *[F.col(f"mh{i}").alias(f"b{i}") for i in range(N_HASHES)])
    agree = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("long") for i in range(N_HASHES)
    )
    pairs = cand.join(sa, "a").join(sb, "b").select(
        "a", "b", agree.alias("agree")
    )
    sh = shingles(docs, n, text_col, id_col)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("nsh"))
    x = sh.selectExpr(f"{id_col} AS a", "s")
    y = sh.selectExpr(f"{id_col} AS b2", "s AS s2")
    common = (
        pairs.join(x, "a").join(
            y, (F.col("b") == F.col("b2")) & (F.col("s") == F.col("s2"))
        )
        .groupBy("a", "b", "agree")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    za = sizes.selectExpr(f"{id_col} AS a", "nsh AS na")
    zb = sizes.selectExpr(f"{id_col} AS b", "nsh AS nb")
    full = (
        common.join(za, "a").join(zb, "b")
        .withColumn("uni", F.col("na") + F.col("nb") - F.col("common"))
    )
    out = full.groupBy("agree").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("common").alias("sum_common"),
        F.sum("uni").alias("sum_union"),
    )
    return out


def minhash_calibration_sql(rel: str = "documents", n: int = 3,
                            text: str = "text",
                            id_col: str = "doc_id") -> str:
    """DuckDB replay of ``minhash_calibration``."""
    return f"""
WITH sh AS ({shingles_sql(rel, n, text, id_col)}),
sigs AS (
  SELECT {id_col}, i.i, min(md5(CAST(i.i AS VARCHAR) || ':' || s)) AS mh
  FROM sh, generate_series(0, {N_HASHES - 1}) i(i) GROUP BY 1, 2),
bands AS (
  SELECT {id_col}, (i // {BAND_SIZE}) AS band,
         concat_ws('|', min(CASE WHEN i % {BAND_SIZE} = 0 THEN mh END),
                        min(CASE WHEN i % {BAND_SIZE} = 1 THEN mh END)) AS bkey
  FROM sigs GROUP BY 1, 2),
cand AS (
  SELECT DISTINCT a.{id_col} AS a, b.{id_col} AS b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bkey = b.bkey AND a.{id_col} < b.{id_col}),
agr AS (
  SELECT c.a, c.b,
         CAST(sum(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END) AS BIGINT) AS agree
  FROM cand c JOIN sigs x ON x.{id_col} = c.a
  JOIN sigs y ON y.{id_col} = c.b AND y.i = x.i
  GROUP BY 1, 2),
sizes AS (SELECT {id_col}, CAST(count(*) AS BIGINT) AS nsh FROM sh GROUP BY 1),
common AS (
  SELECT c.a, c.b, CAST(count(*) AS BIGINT) AS common
  FROM cand c JOIN sh x ON x.{id_col} = c.a
  JOIN sh y ON y.{id_col} = c.b AND y.s = x.s
  GROUP BY 1, 2)
SELECT g.agree, CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(m.common) AS BIGINT) AS sum_common,
       CAST(sum(sa.nsh + sb.nsh - m.common) AS BIGINT) AS sum_union
FROM agr g JOIN common m ON m.a = g.a AND m.b = g.b
JOIN sizes sa ON sa.{id_col} = g.a JOIN sizes sb ON sb.{id_col} = g.b
GROUP BY 1"""
