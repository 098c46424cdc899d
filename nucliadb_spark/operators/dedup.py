"""Deduplication suite for training-data pipelines.

Beyond the reference's own surface (its only dedup is paragraph
`repeated_in_field` / vector Fssc dedup — SURVEY §2.10 U3), these are
the operators a 100 TB corpus pipeline needs. All JVM-side Column
expressions; the portable md5-derived 60-bit hash (functions/text.py
md5_int60) makes every stage oracle-checkable in DuckDB.

Operators:
- exact dedup: canonical-form fingerprint → hash groupBy. One shuffle
  keyed by fingerprint; at 100 TB this is the cheapest possible
  full-corpus op (map-side partial agg, tiny groups out).
- MinHash + LSH near-dup: shingle → N minhashes → B bands × R rows →
  bucket self-join → exact-Jaccard verification of candidates only.
  The band self-join is the scale path: candidate generation touches
  only same-bucket rows (shuffle keyed by (band, bucket)), never the
  full N² pair space.
- SimHash: per-token signed bit votes → BITS-wide signature; near-dup
  = identical signature or banded sub-signature match.
- n-gram Jaccard: exact set Jaccard on distinct shingle arrays.
- embedding near-dup: cosine over cluster-bucketed pairs (the
  IVF-bucketed variant — join keyed by cluster label, never N²).

For demonstrable recall on the synthetic corpus (which has no planted
near-dups), `planted_corpus` derives perturbed copies (truncated
tail, id+PLANT_OFFSET) of every PLANT_MOD-th document — the dedup
queries then have known-true pairs to find, and the DuckDB oracle
verifies the whole pipeline end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from nucliadb_spark.functions.text import (
    md5_int60,
    md5_int60_sql,
    tokenize,
    tokenize_sql,
    word_shingles_from_tokens,
    word_shingles_sql,
)
from nucliadb_spark.functions.vector import cosine_sql_unrolled
from nucliadb_spark.functions import vector as V

PLANT_OFFSET = 1_000_000
PLANT_MOD = 10
PLANT_TRUNC = 20  # chars dropped from the tail of planted copies


# --- canonical forms ------------------------------------------------------


def token_set_fingerprint(col) -> F.Column:
    """md5 of the sorted distinct-token set (bag-of-words identity)."""
    toks = F.array_distinct(tokenize(col))
    return F.md5(F.array_join(F.array_sort(toks), " "))


def token_set_fingerprint_sql(expr: str) -> str:
    return (
        f"md5(array_to_string(list_sort(list_distinct({tokenize_sql(expr)})), ' '))"
    )


def _shingled(corpus: DataFrame, shingle: int) -> DataFrame:
    """(id, shs) with tokens projected once (see
    word_shingles_from_tokens for why)."""
    from nucliadb_spark.functions.text import word_shingles_from_tokens

    return corpus.select("id", tokenize("text").alias("toks")).select(
        "id",
        F.array_sort(
            F.array_distinct(word_shingles_from_tokens(F.col("toks"), shingle))
        ).alias("shs"),
    )


def distinct_shingles_sql(expr: str, n: int = 3) -> str:
    toks = tokenize_sql(expr)
    return (
        f"list_sort(list_distinct([array_to_string(list_slice({toks}, i, i + {n - 1}), ' ') "
        f"for i in range(1, greatest(len({toks}) - {n - 1}, 0) + 1)]))"
    )


# --- exact dedup ----------------------------------------------------------


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Duplicate groups by canonical fingerprint:
    (fingerprint, n_docs, canonical_id, doc_ids)."""
    return (
        docs.select(
            F.col(id_col).alias("id"), token_set_fingerprint(text_col).alias("fp")
        )
        .groupBy("fp")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("id").alias("canonical_id"),
            F.sort_array(F.collect_list("id")).alias("doc_ids"),
        )
        .filter(F.col("n_docs") > 1)
        .orderBy("fp")
    )


def exact_dedup_sql(docs_sql: str, id_col: str = "doc_id", text_col: str = "text") -> str:
    return f"""
WITH docs AS ({docs_sql}),
fps AS (
  SELECT {id_col} AS id, {token_set_fingerprint_sql(text_col)} AS fp FROM docs
)
SELECT fp, COUNT(*) AS n_docs, MIN(id) AS canonical_id,
       list_sort(list(id)) AS doc_ids
FROM fps
GROUP BY fp
HAVING COUNT(*) > 1
ORDER BY fp
"""


# --- planted near-dup corpus ----------------------------------------------


def planted_corpus(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """documents ∪ perturbed copies of every PLANT_MOD-th doc."""
    base = docs.select(F.col(id_col).cast("long").alias("id"), F.col(text_col).alias("text"))
    planted = base.filter(F.col("id") % PLANT_MOD == 0).select(
        (F.col("id") + PLANT_OFFSET).alias("id"),
        F.expr(f"substring(text, 1, length(text) - {PLANT_TRUNC})").alias("text"),
    )
    return base.unionByName(planted)


def planted_corpus_sql(docs_sql: str, id_col: str = "doc_id", text_col: str = "text") -> str:
    return f"""
SELECT CAST({id_col} AS BIGINT) AS id, {text_col} AS text FROM ({docs_sql})
UNION ALL
SELECT CAST({id_col} AS BIGINT) + {PLANT_OFFSET} AS id,
       substring({text_col}, 1, length({text_col}) - {PLANT_TRUNC}) AS text
FROM ({docs_sql}) WHERE {id_col} % {PLANT_MOD} = 0
"""


# --- MinHash + LSH ----------------------------------------------------------

N_HASHES = 24
BANDS = 8
ROWS = 3  # N_HASHES = BANDS * ROWS; threshold ≈ (1/B)^(1/R) ≈ 0.5


def minhash_signatures(
    corpus: DataFrame,
    n: int = N_HASHES,
    shingle: int = 3,
    hash_fn: str = "md5",
) -> DataFrame:
    """(id, sig_0..sig_{n-1}) minhash signature columns.

    hash_fn: 'md5' is oracle-portable (DuckDB computes the identical
    hash); 'xxhash64' is the Spark-native production alternative."""
    sh = corpus.select("id", tokenize("text").alias("toks")).select(
        "id",
        F.explode(
            F.array_distinct(word_shingles_from_tokens(F.col("toks"), shingle))
        ).alias("sh"),
    )
    if hash_fn == "xxhash64":
        aggs = [
            F.min(F.xxhash64(F.lit(f"s{i}:"), F.col("sh"))).alias(f"sig_{i}")
            for i in range(n)
        ]
    else:
        aggs = [
            F.min(md5_int60(F.col("sh"), salt=f"s{i}:")).alias(f"sig_{i}")
            for i in range(n)
        ]
    return sh.groupBy("id").agg(*aggs)


def lsh_pairs(
    corpus: DataFrame,
    n: int = N_HASHES,
    bands: int = BANDS,
    rows: int = ROWS,
    shingle: int = 3,
    min_jaccard: float = 0.5,
    hash_fn: str = "md5",
    sigs: DataFrame | None = None,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """LSH candidate pairs verified by exact Jaccard:
    (id_a, id_b, jaccard DOUBLE rounded to 5 places).

    sigs / shingled: prebuilt index sidecars (minhash signatures and
    the distinct-shingle sets). Signature computation is the
    expensive index-build step — 24 salted hashes per shingle — so
    the serving path caches both and a query is only the band
    self-join + candidate verification."""
    if sigs is None:
        sigs = minhash_signatures(corpus, n, shingle, hash_fn=hash_fn)
    # ONE pass over the signatures: an 8-frame union would recompute
    # the whole signature pipeline per band (measured 8× slower)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        ",", *[F.col(f"sig_{b * rows + r}") for r in range(rows)]
                    )
                ).alias("bkey"),
            )
            for b in range(bands)
        ]
    )
    banded = sigs.select("id", F.explode(band_structs).alias("bb")).select(
        "id", F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey")
    )
    a, bb = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            bb,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    if shingled is None:
        shingled = _shingled(corpus, shingle)
    pairs = (
        cand.join(shingled.withColumnRenamed("id", "id_a").withColumnRenamed("shs", "sa"), "id_a")
        .join(shingled.withColumnRenamed("id", "id_b").withColumnRenamed("shs", "sb"), "id_b")
        .withColumn(
            "inter", F.size(F.array_intersect("sa", "sb")).cast("double")
        )
        .withColumn(
            "uni",
            (F.size("sa") + F.size("sb") - F.col("inter")).cast("double"),
        )
        .withColumn("jaccard", F.round(F.col("inter") / F.col("uni"), 5).cast("double"))
        .filter(F.col("jaccard") >= min_jaccard)
        .select("id_a", "id_b", "jaccard")
        .orderBy("id_a", "id_b")
    )
    return pairs


def lsh_pairs_sql(
    corpus_sql: str,
    n: int = N_HASHES,
    bands: int = BANDS,
    rows: int = ROWS,
    shingle: int = 3,
    min_jaccard: float = 0.5,
) -> str:
    sig_aggs = ",\n         ".join(
        f"MIN({md5_int60_sql('sh', salt=f's{i}:')}) AS sig_{i}" for i in range(n)
    )
    band_selects = "\nUNION ALL\n".join(
        f"""SELECT id, {b} AS band,
       md5(concat_ws(',', {", ".join(f"sig_{b * rows + r}" for r in range(rows))})) AS bkey
FROM sigs"""
        for b in range(bands)
    )
    shingles_expr = distinct_shingles_sql("text", shingle)
    # memory shape (r11): the corpus-wide shingle-list CTE used to be
    # referenced three times (explode + both sides of the verify
    # join), materializing every document's shingle list at once —
    # the r10 driver-box OOM class. Now the full corpus is shingled
    # exactly once, streamed straight into the minhash aggregation
    # (NOT MATERIALIZED), the small per-doc signature table IS
    # materialized (one row, 24 ints — read by all 8 band scans),
    # and the exact-Jaccard verify re-shingles ONLY the candidate
    # docs (a few hundred rows), mirroring the Spark twin's
    # candidates-only verify.
    return f"""
WITH corpus AS ({corpus_sql}),
shingled AS NOT MATERIALIZED (
  SELECT id, {shingles_expr} AS shs FROM corpus
),
exploded AS (
  SELECT id, unnest(shs) AS sh FROM shingled
),
sigs AS MATERIALIZED (
  SELECT id, {sig_aggs}
  FROM exploded
  GROUP BY id
),
banded AS (
{band_selects}
),
cand AS MATERIALIZED (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bkey = b.bkey AND a.id < b.id
),
cand_shs AS MATERIALIZED (
  SELECT id, shs FROM shingled
  WHERE id IN (SELECT id_a FROM cand UNION SELECT id_b FROM cand)
),
verified AS (
  SELECT c.id_a, c.id_b,
         len(list_filter(sa.shs, x -> list_contains(sb.shs, x)))::DOUBLE AS inter,
         (len(sa.shs) + len(sb.shs)
          - len(list_filter(sa.shs, x -> list_contains(sb.shs, x))))::DOUBLE AS uni
  FROM cand c
  JOIN cand_shs sa ON sa.id = c.id_a
  JOIN cand_shs sb ON sb.id = c.id_b
)
SELECT id_a, id_b, ROUND(inter / uni, 5)::DOUBLE AS jaccard
FROM verified
WHERE ROUND(inter / uni, 5)::DOUBLE >= {min_jaccard!r}
ORDER BY id_a, id_b
"""


# --- SimHash -----------------------------------------------------------------

SIMHASH_BITS = 32


def simhash(corpus: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """(id, simhash) — per-token hash bit votes weighted by tf."""
    toks = corpus.select("id", F.explode(tokenize("text")).alias("tok"))
    hashed = toks.withColumn("h", md5_int60(F.col("tok"), salt="sim:"))
    votes = [
        F.sum(
            F.when(F.shiftright("h", i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{i}")
        for i in range(bits)
    ]
    per_doc = hashed.groupBy("id").agg(*votes)
    sig = None
    for i in range(bits):
        bit = F.when(F.col(f"v{i}") > 0, F.lit(2**i).cast("long")).otherwise(F.lit(0).cast("long"))
        sig = bit if sig is None else (sig + bit)
    return per_doc.select("id", sig.alias("simhash"))


def simhash_sql(corpus_sql: str, bits: int = SIMHASH_BITS) -> str:
    votes = ",\n         ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(bits)
    )
    sig = " + ".join(
        f"CASE WHEN v{i} > 0 THEN {2**i}::BIGINT ELSE 0::BIGINT END" for i in range(bits)
    )
    return f"""
WITH corpus AS ({corpus_sql}),
toks AS (
  SELECT id, unnest({tokenize_sql("text")}) AS tok FROM corpus
),
hashed AS (
  SELECT id, {md5_int60_sql("tok", salt="sim:")} AS h FROM toks
),
per_doc AS (
  SELECT id, {votes}
  FROM hashed
  GROUP BY id
)
SELECT id, ({sig}) AS simhash FROM per_doc
"""


def simhash_pairs(corpus: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """Near-dup pairs with identical simhash (hamming 0 bucketing).

    Banded sub-signature matching generalizes to hamming ≤ k; the
    identical-signature bucket join is the degenerate single-band
    case and the cheapest scale path (one shuffle keyed by simhash).
    """
    s = simhash(corpus, bits)
    a, b = s.alias("a"), s.alias("b")
    return (
        a.join(b, (F.col("a.simhash") == F.col("b.simhash")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), F.col("a.simhash").alias("simhash"))
        .orderBy("id_a", "id_b")
    )


def simhash_pairs_sql(corpus_sql: str, bits: int = SIMHASH_BITS) -> str:
    return f"""
WITH sh AS ({simhash_sql(corpus_sql, bits)})
SELECT a.id AS id_a, b.id AS id_b, a.simhash
FROM sh a JOIN sh b ON a.simhash = b.simhash AND a.id < b.id
ORDER BY id_a, id_b
"""


# --- n-gram Jaccard on known pairs -------------------------------------------


def jaccard_planted(corpus: DataFrame, shingle: int = 3) -> DataFrame:
    """Exact shingle-set Jaccard of each planted pair:
    (id, jaccard) — recall diagnostic for the planted corpus."""
    shingled = _shingled(corpus, shingle)
    orig = shingled.filter(F.col("id") < PLANT_OFFSET).withColumnRenamed("shs", "sa")
    copy = shingled.filter(F.col("id") >= PLANT_OFFSET).select(
        (F.col("id") - PLANT_OFFSET).alias("id"), F.col("shs").alias("sb")
    )
    return (
        orig.join(copy, "id")
        .withColumn("inter", F.size(F.array_intersect("sa", "sb")).cast("double"))
        .withColumn("uni", (F.size("sa") + F.size("sb") - F.col("inter")).cast("double"))
        .select(
            "id",
            F.round(F.col("inter") / F.col("uni"), 5).cast("double").alias("jaccard"),
        )
        .orderBy("id")
    )


def jaccard_planted_sql(corpus_sql: str, shingle: int = 3) -> str:
    shingles_expr = distinct_shingles_sql("text", shingle)
    return f"""
WITH corpus AS ({corpus_sql}),
shingled AS (SELECT id, {shingles_expr} AS shs FROM corpus),
joined AS (
  SELECT o.id,
         len(list_filter(o.shs, x -> list_contains(c.shs, x)))::DOUBLE AS inter,
         (len(o.shs) + len(c.shs)
          - len(list_filter(o.shs, x -> list_contains(c.shs, x))))::DOUBLE AS uni
  FROM shingled o
  JOIN shingled c ON c.id = o.id + {PLANT_OFFSET}
  WHERE o.id < {PLANT_OFFSET}
)
SELECT id, ROUND(inter / uni, 5)::DOUBLE AS jaccard
FROM joined
ORDER BY id
"""


# --- embedding cosine near-dup (cluster-bucketed) ----------------------------


def embedding_near_dups(
    embeddings: DataFrame,
    labels: list[int],
    threshold: float = 0.3,
    dim: int = 64,
) -> DataFrame:
    """Same-cluster pairs with cosine ≥ threshold — the IVF-bucketed
    near-dup join (pairs generated per cluster, never N²)."""
    e = embeddings.select("vec_id", "embedding", "label").filter(
        F.col("label").isin(labels)
    )
    a, b = e.alias("a"), e.alias("b")
    raw = V.cosine(F.col("a.embedding"), F.col("b.embedding"))
    return (
        a.join(b, (F.col("a.label") == F.col("b.label")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .withColumn("raw", raw)
        .filter(F.col("raw") >= threshold)
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.col("a.label").alias("label"),
            F.round("raw", 5).cast("double").alias("cosine"),
        )
        .orderBy("id_a", "id_b")
    )


def embedding_near_dups_sql(labels: list[int], threshold: float = 0.3, dim: int = 64) -> str:
    lst = ", ".join(str(x) for x in labels)
    cos = cosine_sql_unrolled("a.embedding", "b.embedding", dim)
    return f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label,
       ROUND({cos}, 5)::DOUBLE AS cosine
FROM embeddings a
JOIN embeddings b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE a.label IN ({lst}) AND b.label IN ({lst})
  AND {cos} >= {threshold!r}
ORDER BY id_a, id_b
"""


# --- quality-aware survivor selection --------------------------------------
# A production dedup pipeline keeps the BEST document per near-dup
# cluster, not an arbitrary one: the survivor is chosen by quality
# score (then length, then id for determinism). One window pass over
# the clustered members — n_members rides the same partitioning, so
# survivor election is a single cluster_id shuffle.


def best_survivors(clusters: DataFrame, quality: DataFrame) -> DataFrame:
    """(cluster_id, survivor_id, n_members, best_quality).

    clusters: (id, cluster_id) from connected_components; quality:
    (id, ..., n_chars, quality) from textstats.quality_features.
    """
    from pyspark.sql import Window

    j = clusters.join(quality.select("id", "n_chars", "quality"), "id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality").desc(), F.col("n_chars").desc(), F.col("id").asc()
    )
    wc = Window.partitionBy("cluster_id")
    return (
        j.withColumn("_rn", F.row_number().over(w))
        .withColumn("n_members", F.count("*").over(wc))
        .filter(F.col("_rn") == 1)
        .select(
            "cluster_id",
            F.col("id").alias("survivor_id"),
            F.col("n_members").cast("long").alias("n_members"),
            F.col("quality").alias("best_quality"),
        )
        .orderBy("cluster_id")
    )


def best_survivors_sql(clusters_sql: str, quality_sql: str) -> str:
    return f"""
WITH clusters AS ({clusters_sql}),
q AS ({quality_sql}),
j AS (
  SELECT c.id, c.cluster_id, q.quality, q.n_chars
  FROM clusters c JOIN q USING (id)
),
r AS (
  SELECT *,
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY quality DESC, n_chars DESC, id ASC) AS rn,
         COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
  FROM j
)
SELECT cluster_id, id AS survivor_id, n_members::BIGINT AS n_members,
       quality AS best_quality
FROM r WHERE rn = 1
ORDER BY cluster_id
"""


# --- cross-document duplicate spans (exact-substring dedup stats) -----------
# Lee et al. 2021 ("Deduplicating Training Data Makes Language Models
# Better") removes exact substrings repeated across a corpus; the
# published recipe finds ~50-token spans via a suffix array. The
# distributed equivalent works on word n-gram shingles: a gram that
# occurs in >= 2 DISTINCT documents marks a duplicated span. This op
# reports, per document, how much of it is covered by such
# cross-document grams — the removal decision input.
#
# Scale shape: ONE shuffle — grams hash-partition for the
# occurrence count (map-side partial aggregation on 60-bit gram
# hashes, never gram strings), and the per-doc rollup rides the same
# exchange via a broadcast-back semi-join of the (tiny, filtered)
# duplicated-gram set. No all-pairs, no driver collect. At 100 TB the
# gram count table is the big intermediate; it prunes itself because
# only grams with count >= 2 survive the filter (a Bloom/CountMin
# pre-pass would cut the exchange further; left as a config knob).


def dup_span_stats(
    corpus: DataFrame, n: int = 8, id_col: str = "id", text_col: str = "text"
) -> DataFrame:
    """(id, n_grams, n_dup_grams, dup_frac_e5) per document.

    A doc's gram set is DISTINCT within the doc, so internal
    repetition doesn't count as cross-doc duplication (that signal is
    textstats.repetition_signals)."""
    toks = corpus.select(
        F.col(id_col).alias("id"), tokenize(text_col).alias("_toks")
    )
    grams = (
        toks.select(
            "id", F.explode(word_shingles_from_tokens(F.col("_toks"), n)).alias("g")
        )
        .select("id", md5_int60(F.col("g"), salt="dup:").alias("gh"))
        .distinct()
    )
    dup = (
        grams.groupBy("gh")
        .agg(F.count("*").cast("long").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .select("gh")
    )
    # no broadcast HINT: the duplicated-gram set is unbounded (a
    # pathological corpus can make most grams duplicates) — AQE picks
    # broadcast at runtime when the filtered set is actually small,
    # and falls back to a shuffled semi-join when it is not
    per_doc = grams.join(dup, "gh", "left_semi").groupBy("id").agg(
        F.count("*").cast("long").alias("n_dup_grams")
    )
    totals = grams.groupBy("id").agg(F.count("*").cast("long").alias("n_grams"))
    return (
        totals.join(per_doc, "id", "left")
        .select(
            "id",
            "n_grams",
            F.coalesce("n_dup_grams", F.lit(0)).cast("long").alias("n_dup_grams"),
            F.round(
                F.coalesce("n_dup_grams", F.lit(0)) * 1e5 / F.col("n_grams")
            ).cast("long").alias("dup_frac_e5"),
        )
        .orderBy("id")
    )


def dup_span_stats_sql(
    corpus_sql: str, n: int = 8, id_col: str = "id", text_col: str = "text"
) -> str:
    grams = word_shingles_sql(text_col, n)
    gh = md5_int60_sql("g", salt="dup:")
    return f"""
WITH corpus AS ({corpus_sql}),
grams AS (
  SELECT DISTINCT {id_col} AS id, {gh} AS gh
  FROM corpus, unnest({grams}) AS u(g)
),
dup AS (SELECT gh FROM grams GROUP BY gh HAVING COUNT(*) >= 2),
per_doc AS (
  SELECT id, COUNT(*)::BIGINT AS n_dup_grams
  FROM grams WHERE gh IN (SELECT gh FROM dup) GROUP BY id
),
totals AS (SELECT id, COUNT(*)::BIGINT AS n_grams FROM grams GROUP BY id)
SELECT t.id, t.n_grams,
       COALESCE(p.n_dup_grams, 0)::BIGINT AS n_dup_grams,
       ROUND(COALESCE(p.n_dup_grams, 0) * 1e5 / t.n_grams)::BIGINT AS dup_frac_e5
FROM totals t LEFT JOIN per_doc p USING (id)
ORDER BY t.id
"""


# --- duplicate-span REMOVAL (rewrite, not just stats) -----------------------
# Lee et al. "Deduplicating Training Data Makes Language Models
# Better": exact-substring dedup keeps ONE occurrence of every
# duplicated span corpus-wide and deletes the rest. dup_span_stats
# measures the problem; this op performs the rewrite. Canonical-keeper
# rule: for each duplicated n-gram the document with the MINIMUM id
# keeps its occurrences; every other document drops the token
# positions the gram covers. Deterministic (pure function of ids), so
# the rewrite is reproducible across engines and runs.
#
# Scale shape: one explode keyed by gram hash (same shuffle
# dup_span_stats already pays), the duplicated-gram verdict joined
# back (AQE picks broadcast when the dup set is small), covered
# positions folded to a per-doc sorted array in one groupBy, and the
# final rewrite is a row-local array filter — no driver state, no N².


def span_token_stream(
    corpus: DataFrame, id_col: str = "id", text_col: str = "text"
) -> DataFrame:
    """(id, _toks) — the tokenized corpus, the base of the span-dedup
    gram index (cacheable index artifact)."""
    return corpus.select(
        F.col(id_col).alias("id"), tokenize(text_col).alias("_toks")
    )


def span_gram_stream(toks: DataFrame, n: int = 8) -> DataFrame:
    """(id, pos, g) — the positional n-gram stream over the tokenized
    corpus: the exact-substring dedup INDEX (the suffix-array stand-in
    of Lee et al.'s pipeline). remove_dup_spans reads it twice (gram
    verdict + join-back), so the serving path session-caches it —
    the r14 baseline measured the un-cached form re-tokenizing the
    corpus in both passes, 8.0 s of pure CPU per run (guide §1.2:
    don't compute things twice)."""
    return toks.select(
        "id",
        F.posexplode(word_shingles_from_tokens(F.col("_toks"), n)).alias(
            "pos", "g"
        ),
    )


def remove_dup_spans(
    corpus: DataFrame,
    n: int = 8,
    id_col: str = "id",
    text_col: str = "text",
    toks: DataFrame | None = None,
    pg: DataFrame | None = None,
) -> DataFrame:
    """(id, n_tokens, n_removed, cleaned_md5) per document.

    cleaned_md5 = md5 of the space-joined surviving tokens, so the
    oracle verifies the actual rewritten text, not just the counts.

    toks/pg: prebuilt (cached) token/positional-gram streams — the
    serving-path sidecars (:func:`span_token_stream` /
    :func:`span_gram_stream`).
    """
    if toks is None:
        toks = span_token_stream(corpus, id_col, text_col)
    # pos is 0-based gram start → covers 1-based token idx pos+1..pos+n.
    # The gram travels RAW (no hash): the dup verdict only needs gram
    # identity, both engines group on the string directly, and the
    # 2M-doc probe showed the md5-int key aggregating SLOWER than the
    # raw 8-word string (213 s vs 137 s) while adding hash CPU.
    if pg is None:
        pg = span_gram_stream(toks, n)
    # ONE shuffle keyed by gram, pure partial aggregation: "appears in
    # >= 2 distinct docs" is exactly min(id) != max(id) — countDistinct
    # would maintain a distinct-id set per gram group (measured 2.5x
    # slower at 123M near-unique groups), and a separate distinct()
    # pass would shuffle the position-gram stream twice.
    info = (
        pg.groupBy("g")
        .agg(
            F.min("id").alias("_keeper"),
            F.max("id").alias("_maxid"),
        )
        .filter(F.col("_keeper") != F.col("_maxid"))
        .select("g", "_keeper")
    )
    removed = (
        pg.join(info, "g")
        .filter(F.col("id") != F.col("_keeper"))
        .select(
            "id",
            F.explode(
                F.sequence(F.col("pos") + 1, F.col("pos") + n)
            ).alias("tokidx"),
        )
        .distinct()
        .groupBy("id")
        .agg(
            F.array_sort(F.collect_set("tokidx")).alias("_rm"),
            F.count("*").cast("long").alias("n_removed"),
        )
    )
    rm = F.coalesce(F.col("_rm"), F.array().cast("array<int>"))
    cleaned = F.filter(
        F.col("_toks"), lambda t, i: ~F.array_contains(rm, i + 1)
    )
    return (
        toks.join(removed, "id", "left")
        .select(
            "id",
            F.size("_toks").cast("long").alias("n_tokens"),
            F.coalesce("n_removed", F.lit(0)).cast("long").alias("n_removed"),
            F.md5(F.array_join(cleaned, " ")).alias("cleaned_md5"),
        )
        .orderBy("id")
    )


def remove_dup_spans_sql(
    corpus_sql: str, n: int = 8, id_col: str = "id", text_col: str = "text"
) -> str:
    toks = tokenize_sql(text_col)
    grams = word_shingles_sql(text_col, n)
    return f"""
WITH corpus AS ({corpus_sql}),
tok AS (SELECT {id_col} AS id, {toks} AS toks, {grams} AS gs FROM corpus),
pg AS (
  SELECT id, unnest(gs) AS g, generate_subscripts(gs, 1) AS pos FROM tok
),
info AS (
  SELECT g, MIN(id) AS keeper
  FROM pg
  GROUP BY g HAVING MIN(id) <> MAX(id)
),
rmpos AS (
  SELECT DISTINCT pg.id, pg.pos + j.j AS tokidx
  FROM pg JOIN info USING (g), unnest(range(0, {n})) AS j(j)
  WHERE pg.id <> info.keeper
),
rm AS (
  SELECT id, list(tokidx ORDER BY tokidx) AS rml,
         COUNT(*)::BIGINT AS n_removed
  FROM rmpos GROUP BY id
)
SELECT tok.id AS id, len(tok.toks)::BIGINT AS n_tokens,
       COALESCE(rm.n_removed, 0)::BIGINT AS n_removed,
       md5(COALESCE(array_to_string(
         list_filter(tok.toks,
                     (t, i) -> NOT list_contains(COALESCE(rm.rml, []), i)),
         ' '), '')) AS cleaned_md5
FROM tok LEFT JOIN rm USING (id)
ORDER BY id
"""


# --- row-local minhash bands (the streaming/ingest-side form) ---------------
# The batch signature build aggregates exploded shingles per doc; an
# arriving document can compute the SAME signatures as one row-local
# expression (min over its own shingle hashes) — no shuffle, so the
# gate works inside a Structured Streaming micro-batch. Identical
# band keys to lsh_pairs' index (same salts, same md5 band hash).


def row_minhash_bands(
    text_col: str = "text",
    n: int = N_HASHES,
    bands: int = BANDS,
    rows: int = ROWS,
    shingle: int = 3,
):
    """Column: array<struct<band int, bkey string>> for one document."""
    from nucliadb_spark.functions.text import word_shingles_from_tokens

    toks = tokenize(text_col)
    shs = F.array_distinct(word_shingles_from_tokens(toks, shingle))

    # NB: the per-salt hasher must be built by a one-parameter
    # factory — a `lambda s, i=i:` would make F.transform pass the
    # ARRAY INDEX as the second argument (PySpark's binary-lambda
    # form), silently replacing the salt.
    def _hasher(salt: str):
        return lambda s: md5_int60(s, salt=salt)

    sigs = [
        F.array_min(F.transform(shs, _hasher(f"s{i}:"))) for i in range(n)
    ]
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(",", *[sigs[b * rows + r] for r in range(rows)])
                ).alias("bkey"),
            )
            for b in range(bands)
        ]
    )


def banded_from_sigs(
    sigs: DataFrame, bands: int = BANDS, rows: int = ROWS
) -> DataFrame:
    """(id, band, bkey) — the LSH band-bucket index from a signature
    frame (one pass; see lsh_pairs for why not a per-band union)."""
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        ",", *[F.col(f"sig_{b * rows + r}") for r in range(rows)]
                    )
                ).alias("bkey"),
            )
            for b in range(bands)
        ]
    )
    return sigs.select("id", F.explode(band_structs).alias("bb")).select(
        "id", F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey")
    )


def incremental_lsh_sql(
    base_sql: str,
    arrivals_sql: str,
    n: int = N_HASHES,
    bands: int = BANDS,
    rows: int = ROWS,
    shingle: int = 3,
    min_jaccard: float = 0.5,
) -> str:
    """DuckDB twin of the arrivals-vs-base LSH gate: candidates from
    band-bucket equality across the two sides, verified by exact
    Jaccard. (arrival_id, base_id, jaccard)."""
    sig_aggs = ",\n         ".join(
        f"MIN({md5_int60_sql('sh', salt=f's{i}:')}) AS sig_{i}" for i in range(n)
    )

    def banded(src: str) -> str:
        return "\nUNION ALL\n".join(
            f"""SELECT id, {b} AS band,
       md5(concat_ws(',', {", ".join(f"sig_{b * rows + r}" for r in range(rows))})) AS bkey
FROM {src}"""
            for b in range(bands)
        )

    shingles_expr = distinct_shingles_sql("text", shingle)
    return f"""
WITH base AS ({base_sql}),
arr AS ({arrivals_sql}),
base_sh AS (SELECT id, {shingles_expr} AS shs FROM base),
arr_sh AS (SELECT id, {shingles_expr} AS shs FROM arr),
base_sigs AS (
  SELECT id, {sig_aggs} FROM (SELECT id, unnest(shs) AS sh FROM base_sh) GROUP BY id
),
arr_sigs AS (
  SELECT id, {sig_aggs} FROM (SELECT id, unnest(shs) AS sh FROM arr_sh) GROUP BY id
),
base_band AS ({banded('base_sigs')}),
arr_band AS ({banded('arr_sigs')}),
cand AS (
  SELECT DISTINCT a.id AS arrival_id, b.id AS base_id
  FROM arr_band a JOIN base_band b ON a.band = b.band AND a.bkey = b.bkey
),
verified AS (
  SELECT c.arrival_id, c.base_id,
         len(list_filter(sa.shs, x -> list_contains(sb.shs, x)))::DOUBLE AS inter,
         (len(sa.shs) + len(sb.shs)
          - len(list_filter(sa.shs, x -> list_contains(sb.shs, x))))::DOUBLE AS uni
  FROM cand c
  JOIN arr_sh sa ON sa.id = c.arrival_id
  JOIN base_sh sb ON sb.id = c.base_id
)
SELECT arrival_id, base_id, ROUND(inter / uni, 5)::DOUBLE AS jaccard
FROM verified
WHERE ROUND(inter / uni, 5)::DOUBLE >= {min_jaccard!r}
ORDER BY arrival_id, base_id
"""
