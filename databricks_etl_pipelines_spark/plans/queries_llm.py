"""LLM training-data pipeline queries (SURVEY §7 M8 / north star):
text analysis, dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard /
embedding cosine), similarity search, multimodal plumbing.

Oracle-checked where ANSI-SQL-expressible (DuckDB list lambdas mirror the
Spark higher-order functions); hash-seeded ops (xxhash64 signatures) are
engine-specific and get rows-only checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from databricks_etl_pipelines_spark.session import invocation_pin

from databricks_etl_pipelines_spark.catalog import query
from databricks_etl_pipelines_spark.operators.components import duplicate_clusters
from databricks_etl_pipelines_spark.functions.numeric import (
    sql_stable_round,
    stable_round,
)
from databricks_etl_pipelines_spark.functions.textfns import (
    LANG_STOPWORDS,
    avg_token_length,
    char_count,
    digit_ratio,
    fingerprint_minhash1,
    lang_id,
    punct_ratio,
    stopword_hits,
    stopword_ratio,
    token_count,
)
from databricks_etl_pipelines_spark.operators.dedup import (
    MinHashCorpusIndex,
    embedding_cosine_pairs,
    exact_dedup_groups,
    minhash_crossengine_pairs,
    minhash_lsh_dedup_pairs,
    ngram_jaccard_pairs,
    simhash_dedup_pairs,
)
from databricks_etl_pipelines_spark.operators.multimodal import (
    binary_stats,
    byte_histogram_features,
    sample_chunks,
    to_binary_docs,
)
from databricks_etl_pipelines_spark.operators.similarity import (
    IvfIndex,
    brute_force_cosine_topk,
    ivf_topk,
    lsh_ann_topk,
    pandas_cosine_topk,
)
from databricks_etl_pipelines_spark.sources import table
from databricks_etl_pipelines_spark.sources.scratch import scratch_dir

# SQL fragments shared by the DuckDB oracles -------------------------------

_SQL_TOKS = "string_split_regex(trim(text), '\\s+')"
_SQL_SHINGLES3 = (
    "CASE WHEN len({t}) >= 3 THEN "
    "list_distinct(list_transform(range(1, len({t}) - 1), "
    "i -> array_to_string(({t})[i:i+2], ' '))) "
    "ELSE [array_to_string({t}, ' ')] END"
).format(t=_SQL_TOKS)


def _sql_in_list(words: tuple[str, ...]) -> str:
    return ", ".join(f"'{w}'" for w in words)


# -- token / char / fingerprint stats ----------------------------------------

_TOKEN_STATS_ORACLE = f"""
SELECT
  doc_id,
  len({_SQL_TOKS}) AS n_tokens,
  length(text) AS n_chars,
  CAST(list_sum(list_transform({_SQL_TOKS}, x -> length(x))) AS BIGINT)
    / len({_SQL_TOKS}) AS avg_token_len,
  list_aggregate(list_transform({_SQL_SHINGLES3}, s -> md5(s)), 'min')
    AS fingerprint
FROM documents
"""


@query("text_token_stats", _TOKEN_STATS_ORACLE)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        char_count("text").alias("n_chars"),
        avg_token_length("text").alias("avg_token_len"),
        fingerprint_minhash1("text", 3).alias("fingerprint"),
    )


# -- BPE-ish token counting + rolling-hash fingerprint ------------------------

_BPE_PATTERN_SQL = (
    "''s|''t|''re|''ve|''m|''ll|''d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+"
)

_BPE_STATS_ORACLE = f"""
SELECT doc_id,
  CAST(len(regexp_extract_all(text, '{_BPE_PATTERN_SQL}')) AS BIGINT)
    AS bpe_tokens,
  CAST(len({_SQL_TOKS}) AS BIGINT) AS ws_tokens
FROM documents
"""


@query("text_bpe_token_stats", _BPE_STATS_ORACLE)
def text_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM token budgeting: BPE-ish pre-tokenizer count (the unit context
    windows are priced in) next to the whitespace count."""
    from databricks_etl_pipelines_spark.functions.textfns import (
        bpe_token_count,
    )

    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        bpe_token_count("text").alias("bpe_tokens"),
        token_count("text").alias("ws_tokens"),
    )


_ROLLING_FP_ORACLE = """
SELECT doc_id,
  CAST(list_reduce(
    list_prepend(CAST(0 AS BIGINT),
      list_transform(regexp_extract_all(text, '.'),
                     c -> CAST(ord(c) AS BIGINT))),
    (acc, c) -> (acc * 257 + c) % 2147483647
  ) AS BIGINT) AS rolling_fp
FROM documents
"""


@query("text_fingerprint_rolling", _ROLLING_FP_ORACLE)
def text_fingerprint_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive Karp-Rabin document fingerprint (vs the shingle-SET
    min-hash fingerprint in text_token_stats)."""
    from databricks_etl_pipelines_spark.functions.textfns import (
        fingerprint_rolling,
    )

    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", fingerprint_rolling("text").alias("rolling_fp")
    )


# -- quality scoring -----------------------------------------------------------

_EN = _sql_in_list(LANG_STOPWORDS["en"])

# The ONE SQL copy of operators/curation.py::quality_score's 30/30/20/20
# rubric — every oracle that needs a document quality score composes this
# (quality exposes its intermediates separately below; quota, DPO, and
# the funnel reuse the fragment).
_SQL_QUALITY_SCORE = f"""\
(CASE WHEN len({_SQL_TOKS}) BETWEEN 10 AND 1000 THEN 30 ELSE 0 END
     + CASE WHEN CAST(list_sum(list_transform({_SQL_TOKS}, x -> length(x)))
              AS BIGINT) / len({_SQL_TOKS}) BETWEEN 3 AND 12 THEN 30 ELSE 0 END
     + CASE WHEN len(list_filter({_SQL_TOKS}, x -> x IN ({_EN})))
              / len({_SQL_TOKS}) > 0.05 THEN 20 ELSE 0 END
     + CASE WHEN (length(text) - length(regexp_replace(text, '[.,;:!?''"()\\[\\]-]', '', 'g')))
              / length(text) < 0.2
             AND (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
              / length(text) < 0.2 THEN 20 ELSE 0 END)"""

_QUALITY_ORACLE = f"""
WITH t AS (
  SELECT
    doc_id,
    len({_SQL_TOKS}) AS n_tokens,
    CAST(list_sum(list_transform({_SQL_TOKS}, x -> length(x))) AS BIGINT)
      / len({_SQL_TOKS}) AS avg_tok_len,
    len(list_filter({_SQL_TOKS}, x -> x IN ({_EN}))) / len({_SQL_TOKS})
      AS stop_ratio,
    (length(text) - length(regexp_replace(text, '[.,;:!?''"()\\[\\]-]', '', 'g')))
      / length(text) AS punct_r,
    (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
      / length(text) AS digit_r
  FROM documents
)
SELECT
  doc_id, n_tokens, avg_tok_len, stop_ratio, punct_r, digit_r,
  (CASE WHEN n_tokens BETWEEN 10 AND 1000 THEN 30 ELSE 0 END
   + CASE WHEN avg_tok_len BETWEEN 3 AND 12 THEN 30 ELSE 0 END
   + CASE WHEN stop_ratio > 0.05 THEN 20 ELSE 0 END
   + CASE WHEN punct_r < 0.2 AND digit_r < 0.2 THEN 20 ELSE 0 END)
  AS quality_score
FROM t
"""


@query("text_quality_score", _QUALITY_ORACLE)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        avg_token_length("text").alias("avg_tok_len"),
        stopword_ratio("text", LANG_STOPWORDS["en"]).alias("stop_ratio"),
        punct_ratio("text").alias("punct_r"),
        digit_ratio("text").alias("digit_r"),
    )
    quality = (
        F.when(F.col("n_tokens").between(10, 1000), 30).otherwise(0)
        + F.when(F.col("avg_tok_len").between(3, 12), 30).otherwise(0)
        + F.when(F.col("stop_ratio") > 0.05, 20).otherwise(0)
        + F.when((F.col("punct_r") < 0.2) & (F.col("digit_r") < 0.2), 20).otherwise(0)
    )
    return scored.withColumn("quality_score", quality)


# -- DPO preference-pair assembly ---------------------------------------------
# Documents hashed into prompt groups stand in for per-prompt candidate
# pools; the quality rubric is the reward signal. The oracle replays the
# single-aggregate pairing: lexicographic max/min over (score, -id)
# structs — DuckDB and Spark order structs identically.

_DPO_ORACLE = f"""
WITH scored AS (
  SELECT doc_id % 200 AS prompt_id, doc_id, {_SQL_QUALITY_SCORE} AS score
  FROM documents
),
g AS (
  SELECT prompt_id,
    max({{'s': score, 'ni': -doc_id, 'i': doc_id}}) AS b,
    min({{'s': score, 'ni': -doc_id, 'i': doc_id}}) AS w,
    CAST(count(*) AS BIGINT) AS n_candidates
  FROM scored GROUP BY prompt_id
)
SELECT prompt_id, b.i AS chosen_id, b.s AS chosen_score,
       w.i AS rejected_id, w.s AS rejected_score, n_candidates
FROM g
WHERE b.i != w.i AND b.s - w.s >= 20
"""


@query("sft_dpo_pairs", _DPO_ORACLE)
def sft_dpo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPO pair assembly (operators/sft.py::preference_pairs): best vs
    worst quality-scored candidate per prompt group, margin >= 20, ties
    broken by id on both ends. One hash aggregate with map-side partials
    — no window sort or self-join anywhere in the plan."""
    from databricks_etl_pipelines_spark.operators.curation import (
        quality_score,
    )
    from databricks_etl_pipelines_spark.operators.sft import (
        preference_pairs,
    )

    docs = table(spark, sf_dir, "documents")
    scored = docs.select(
        (F.col("doc_id") % 200).alias("prompt_id"),
        "doc_id",
        quality_score("text").alias("score"),
    )
    return preference_pairs(
        scored, "prompt_id", "doc_id", "score", min_margin=20
    )


# -- language identification -----------------------------------------------------

def _lang_oracle() -> str:
    hit_cols = ",\n    ".join(
        f"len(list_filter({_SQL_TOKS}, x -> x IN "
        f"({_sql_in_list(sw)}))) AS hits_{lang}"
        for lang, sw in LANG_STOPWORDS.items()
    )
    langs = list(LANG_STOPWORDS)
    cases = []
    for lang in langs:
        conds = [f"hits_{lang} > 0"] + [
            f"hits_{lang} >= hits_{o}" for o in langs if o != lang
        ]
        cases.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    case_sql = "CASE " + " ".join(cases) + " ELSE 'unknown' END"
    return f"""
WITH h AS (
  SELECT doc_id, lang AS lang_label,
    {hit_cols}
  FROM documents
)
SELECT doc_id, lang_label, hits_en, hits_de, hits_fr, hits_es,
  {case_sql} AS lang_pred
FROM h
"""


@query("text_language_id", _lang_oracle())
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    sel = [
        F.col("doc_id"),
        F.col("lang").alias("lang_label"),
    ]
    for lang, sw in LANG_STOPWORDS.items():
        sel.append(stopword_hits("text", sw).alias(f"hits_{lang}"))
    sel.append(lang_id("text").alias("lang_pred"))
    return docs.select(*sel)


# -- exact dedup ------------------------------------------------------------------

_EXACT_DEDUP_ORACLE = """
SELECT
  md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS text_hash,
  min(doc_id) AS keeper_id,
  count(*) AS copies
FROM documents
GROUP BY 1
"""


@query("dedup_exact_documents", _EXACT_DEDUP_ORACLE)
def dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return exact_dedup_groups(docs, "text", "doc_id")


# -- n-gram Jaccard near-dup (exact, prefix-filtered) -------------------------------

# Since r13 the oracle replays the BLOCKED candidate generation — the
# same symmetric PPJoin prefix filter the Spark side runs
# (operators/dedup.py::ngram_jaccard_pairs) — instead of the r8
# brute-force all-pairs form that capped it at sf0.01 (the containment
# treatment, applied to the symmetric case): order each doc's shingles
# by (document frequency, shingle), keep the first ln − ⌈t·ln⌉ + 1 as
# the prefix, equi-join prefixes on the shared shingle with the length
# filter t·ln_b ≤ ln_a ≤ ln_b/t and the positional upper bound
# 1 + min(ln_a − pos_a, ln_b − pos_b) ≥ ⌈t/(1+t)·(ln_a+ln_b)⌉, then
# verify the EXACT Jaccard. The filter is lossless for ANY fixed global
# shingle order, so the engines may break df ties differently (Spark
# orders hashed shingles, SQL raw strings) and the VERIFIED pair set is
# still identical to brute force on both. Candidate volume is bounded
# by co-occurrence of RARE shingles, never n² — sf0.1-safe. The shared
# `pairs` CTE also drives the leakage-split oracle below.
_PPJOIN_PAIRS_CTES = """
tok AS (
  SELECT id, ln, unnest(sh) AS hs FROM prep
),
dfreq AS (
  SELECT hs, count(*) AS df FROM tok GROUP BY hs
),
ord AS (
  SELECT t.id, t.ln, t.hs,
    row_number() OVER (PARTITION BY t.id ORDER BY d.df, t.hs) AS pos
  FROM tok t JOIN dfreq d USING (hs)
),
pref AS (
  SELECT * FROM ord
  WHERE pos <= ln - ceil(CAST(0.5 AS DOUBLE) * ln) + 1
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM pref a JOIN pref b ON a.hs = b.hs
  WHERE a.id < b.id
    AND a.ln >= CAST(0.5 AS DOUBLE) * b.ln
    AND b.ln >= CAST(0.5 AS DOUBLE) * a.ln
    AND 1 + least(a.ln - a.pos, b.ln - b.pos)
        >= ceil(CAST(0.5 AS DOUBLE) / CAST(1.5 AS DOUBLE)
                * (a.ln + b.ln))
),
pairs AS (
  SELECT c.id_a, c.id_b,
    len(list_intersect(x.sh, y.sh))
      / len(list_distinct(list_concat(x.sh, y.sh))) AS jaccard
  FROM cand c
  JOIN prep x ON x.id = c.id_a
  JOIN prep y ON y.id = c.id_b
  WHERE len(list_intersect(x.sh, y.sh))
      / len(list_distinct(list_concat(x.sh, y.sh))) >= 0.5
)
"""

_JACCARD_ORACLE = f"""
WITH prep AS (
  SELECT doc_id AS id, {_SQL_SHINGLES3} AS sh, len({_SQL_SHINGLES3}) AS ln
  FROM documents
),
{_PPJOIN_PAIRS_CTES}
SELECT id_a, id_b, jaccard FROM pairs
"""


@query("dedup_ngram_jaccard_pairs", _JACCARD_ORACLE)
def dedup_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        docs, "text", "doc_id", threshold=0.5, shingle_k=3
    ).select(
        F.col("id_a"), F.col("id_b"), F.col("jaccard")
    )


# -- asymmetric containment near-dup (sub-duplication) -------------------------

# Oracle replays the BLOCKED candidate generation, not the O(n²) pair
# CTE (the r8 brute-force form capped this oracle at sf0.01): the same
# lossless asymmetric prefix filter the Spark side runs — probe prefix
# of the contained side (rarest ln − ⌈t·ln⌉ + 1 shingles) joined to the
# FULL index of the container side on the shared shingle, positional
# upper bound ≥ ⌈t·ln_a⌉ — then the exact |Sa ∩ Sb| verify. Because the
# filter is lossless for ANY fixed global shingle order, the engines may
# break df ties differently (Spark orders hashed shingles, SQL raw
# strings) yet the VERIFIED pair set is identical to brute force on
# both. Candidate volume is Σ_s probe(s)·df(s), never n² — sf0.1-safe.
_CONTAINMENT_ORACLE = f"""
WITH prep AS (
  SELECT doc_id AS id, {_SQL_SHINGLES3} AS sh, len({_SQL_SHINGLES3}) AS ln
  FROM documents
),
tok AS (
  SELECT id, ln, unnest(sh) AS hs FROM prep
),
dfreq AS (
  SELECT hs, count(*) AS df FROM tok GROUP BY hs
),
ord AS (
  SELECT t.id, t.ln, t.hs,
    row_number() OVER (PARTITION BY t.id ORDER BY d.df, t.hs) AS pos
  FROM tok t JOIN dfreq d USING (hs)
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM ord a JOIN ord b ON a.hs = b.hs
  WHERE a.pos <= a.ln - ceil(0.8 * a.ln) + 1
    AND (a.ln < b.ln OR (a.ln = b.ln AND a.id < b.id))
    AND 1 + least(a.ln - a.pos, b.ln - b.pos) >= ceil(0.8 * a.ln)
)
SELECT c.id_a AS contained_id, c.id_b AS container_id,
  len(list_intersect(x.sh, y.sh)) / x.ln AS containment
FROM cand c
JOIN prep x ON x.id = c.id_a
JOIN prep y ON y.id = c.id_b
WHERE len(list_intersect(x.sh, y.sh)) >= ceil(0.8 * x.ln)
"""


@query("dedup_containment_pairs", _CONTAINMENT_ORACLE)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-duplication detection: ordered (contained, container) pairs
    with shingle-set containment |Sa ∩ Sb| / |Sa| ≥ 0.8 — the asymmetric
    measure Jaccard cannot see (boilerplate-wrapped paragraphs, quoted
    emails, docs embedded in crawl pages dilute the union but not the
    containment). Spark runs the lossless asymmetric prefix-filter join
    (operators/dedup.py::containment_pairs — probe prefix of the
    contained side × full index of the container side, positional bound
    pruning); since r9 the oracle replays that SAME blocked candidate
    generation (losslessness makes the verified output order-invariant,
    so both engines equal brute force) — which lifts the oracle off the
    heavy sf0.01-only list and verifies at sf0.1. The containment
    value is ONE int/int division on both engines — bit-identical."""
    docs = table(spark, sf_dir, "documents")
    from databricks_etl_pipelines_spark.operators.dedup import (
        containment_pairs,
    )

    return containment_pairs(
        docs, "text", "doc_id", threshold=0.8, shingle_k=3
    )


# -- cross-engine MinHash-LSH (the banded pipeline, hard-verified) -----------------

# Cross-engine MinHash family (Broder's construction, mirrored
# constant-for-constant by operators/dedup.py::_xengine_affine): ONE
# Karp-Rabin rolling hash over md5(shingle) — the same idiom as
# _ROLLING_FP_ORACLE — then cheap per-permutation affine maps
# (A_i·h + B_i) mod 2^31-1, instead of one md5 per (permutation,
# shingle). ~num_perm× less hashing on both engines, same LSH quality.
_SQL_BASE_HASH = """
      CAST(list_reduce(
        list_prepend(CAST(0 AS BIGINT),
          list_transform(
            regexp_extract_all(md5(s), '.'),
            c -> CAST(ord(c) AS BIGINT))),
        (acc, c) -> (acc * 257 + c) % 2147483647
      ) AS BIGINT)
"""

# affine permutation of a base-hash column ``h`` with permutation index
# ``i`` in scope: A_i = (2654435761·(i+1)) mod P, B_i = (2246822519·i)
# mod P, P = 2^31-1 (prime, so A_i != 0 for any i < P-1)
_SQL_AFFINE = """(
      ((2654435761 * (i + 1)) % 2147483647) * h
      + (2246822519 * i) % 2147483647
    ) % 2147483647"""

def _minhash_xengine_ctes(src: str, threshold: float) -> str:
    """CTE chain ``mh_sh → mh_hs → mh_bands → mh_ok → mh_cand → mh_pairs``
    implementing the cross-engine banded MinHash (16 perms / 4 bands /
    bucket cap 200) over relation ``src(id, text)``. Compose after a
    leading WITH; ``mh_pairs`` yields (id_a, id_b, jaccard >= threshold)."""
    return f"""mh_sh AS (
  SELECT id, {_SQL_SHINGLES3} AS sh FROM {src}
),
mh_base AS (
  SELECT id, {_SQL_BASE_HASH} AS h
  FROM (SELECT id, unnest(sh) AS s FROM mh_sh)
),
mh_hs AS (
  SELECT id, i, min({_SQL_AFFINE}) AS sig
  FROM mh_base, (SELECT unnest(range(16)) AS i) AS perms
  GROUP BY id, i
),
mh_bands AS (
  SELECT id, CAST(i // 4 AS INT) AS band_id,
    string_agg(CAST(sig AS VARCHAR), ',' ORDER BY i) AS band_key
  FROM mh_hs GROUP BY id, i // 4
),
mh_ok AS (
  SELECT band_id, band_key FROM mh_bands
  GROUP BY band_id, band_key HAVING count(*) <= 200
),
mh_cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM mh_bands a
  JOIN mh_ok USING (band_id, band_key)
  JOIN mh_bands b ON a.band_id = b.band_id AND a.band_key = b.band_key
  WHERE a.id < b.id
),
mh_pairs AS (
  SELECT id_a, id_b,
    len(list_intersect(sa.sh, sb.sh)) * 1.0
      / len(list_distinct(list_concat(sa.sh, sb.sh))) AS jaccard
  FROM mh_cand
  JOIN mh_sh sa ON sa.id = mh_cand.id_a
  JOIN mh_sh sb ON sb.id = mh_cand.id_b
  WHERE len(list_intersect(sa.sh, sb.sh)) * 1.0
      / len(list_distinct(list_concat(sa.sh, sb.sh))) >= {threshold}
)"""


_MINHASH_XENGINE_ORACLE = f"""
WITH xsrc AS (SELECT doc_id AS id, text FROM documents),
{_minhash_xengine_ctes('xsrc', 0.5)}
SELECT id_a, id_b, {sql_stable_round('jaccard', 6)} AS jaccard
FROM mh_pairs
"""


@query("dedup_minhash_crossengine", _MINHASH_XENGINE_ORACLE)
def dedup_minhash_crossengine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The banded MinHash-LSH pipeline under a HARD differential check:
    signature → bands → bucket cap → candidate equi-join → exact-Jaccard
    verify, with the base-md5+affine permutation family both engines can
    compute. The DuckDB oracle replays the whole pipeline (not a brute-
    force equivalent), so banding/bucketing/verify logic is value-checked
    end to end; the production operator (dedup_minhash_lsh_pairs) shares
    this structure with the faster xxhash64 family."""
    docs = table(spark, sf_dir, "documents")
    pairs = minhash_crossengine_pairs(
        docs, "text", "doc_id", num_perm=16, bands=4, threshold=0.5
    )
    return pairs.select(
        "id_a", "id_b", stable_round(F.col("jaccard"), 6).alias("jaccard")
    )



# Incremental screening under the same cross-engine family: corpus = even
# doc_ids (persisted index), batch = odd doc_ids. The bucket-size cap is
# computed over CORPUS buckets only (exactly what match_new does) and
# candidates are (batch x corpus) band collisions.
_INCR_XENGINE_ORACLE = f"""
WITH xsrc AS (SELECT doc_id AS id, text FROM documents),
mh_sh AS (
  SELECT id, {_SQL_SHINGLES3} AS sh FROM xsrc
),
mh_base AS (
  SELECT id, {_SQL_BASE_HASH} AS h
  FROM (SELECT id, unnest(sh) AS s FROM mh_sh)
),
mh_hs AS (
  SELECT id, i, min({_SQL_AFFINE}) AS sig
  FROM mh_base, (SELECT unnest(range(16)) AS i) AS perms
  GROUP BY id, i
),
mh_bands AS (
  SELECT id, CAST(i // 4 AS INT) AS band_id,
    string_agg(CAST(sig AS VARCHAR), ',' ORDER BY i) AS band_key
  FROM mh_hs GROUP BY id, i // 4
),
mh_ok AS (
  SELECT band_id, band_key FROM mh_bands WHERE id % 2 = 0
  GROUP BY band_id, band_key HAVING count(*) <= 200
),
mh_cand AS (
  SELECT DISTINCT b.id AS new_id, a.id AS corpus_id
  FROM mh_bands a
  JOIN mh_ok USING (band_id, band_key)
  JOIN mh_bands b ON a.band_id = b.band_id AND a.band_key = b.band_key
  WHERE a.id % 2 = 0 AND b.id % 2 = 1
),
mh_pairs AS (
  SELECT new_id, corpus_id,
    len(list_intersect(sa.sh, sb.sh)) * 1.0
      / len(list_distinct(list_concat(sa.sh, sb.sh))) AS jaccard
  FROM mh_cand
  JOIN mh_sh sb ON sb.id = mh_cand.new_id
  JOIN mh_sh sa ON sa.id = mh_cand.corpus_id
  WHERE len(list_intersect(sa.sh, sb.sh)) * 1.0
      / len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.5
)
SELECT new_id, corpus_id, {sql_stable_round('jaccard', 6)} AS jaccard
FROM mh_pairs
"""

_MH_XIDX_CACHE: dict[str, MinHashCorpusIndex] = {}


@query("dedup_incremental_crossengine", _INCR_XENGINE_ORACLE)
def dedup_incremental_crossengine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INCREMENTAL screening path under a HARD oracle: a persisted
    MinHashCorpusIndex built with the cross-engine family over the even-id
    corpus, odd-id batch screened via match_new — band persistence, the
    corpus-side bucket cap, the asymmetric candidate join, and exact
    verify all replay value-for-value in SQL. The xxhash64-family twin
    (dedup_incremental_corpus) stays the production default."""
    docs = table(spark, sf_dir, "documents")
    idx = _MH_XIDX_CACHE.get(sf_dir)
    if idx is None:
        corpus = docs.filter(F.col("doc_id") % 2 == 0)
        idx = MinHashCorpusIndex.build(
            corpus, "text", "doc_id", scratch_dir("mh_xcorpus_"),
            num_perm=16, bands=4, shingle_k=3, family="crossengine",
        )
        _MH_XIDX_CACHE[sf_dir] = idx
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    out = idx.match_new(spark, batch, "text", "doc_id", threshold=0.5)
    return out.select(
        "new_id", "corpus_id",
        stable_round(F.col("jaccard"), 6).alias("jaccard"),
    )

# -- cross-engine SimHash (per-bit vote + pigeonhole blocking, hard-verified) ------

def _sql_rolling_md5(prefix: str) -> str:
    """KarpRabin over the md5 hex of '<prefix>' || t (t = the token col)."""
    return (
        "CAST(list_reduce("
        "list_prepend(CAST(0 AS BIGINT),"
        f"list_transform(regexp_extract_all(md5('{prefix}' || t), '.'),"
        " c -> CAST(ord(c) AS BIGINT))),"
        " (acc, c) -> (acc * 257 + c) % 2147483647"
        ") AS BIGINT)"
    )


def _simhash_xengine_oracle() -> str:
    half = (1 << 30) - 1
    vote_cols = ",\n    ".join(
        f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(60)
    )
    sig_terms = " + ".join(
        f"(CASE WHEN b{j} > 0 THEN CAST({1 << j} AS BIGINT) "
        f"ELSE CAST(0 AS BIGINT) END)"
        for j in range(60)
    )
    return f"""
WITH sh AS (
  SELECT doc_id AS id, {_SQL_SHINGLES3} AS sh FROM documents
),
tok AS (
  SELECT id, unnest(sh) AS t FROM sh
),
hashed AS (
  SELECT id,
    ({_sql_rolling_md5('a:')} & {half})
      | (({_sql_rolling_md5('b:')} & {half}) << 30) AS h
  FROM tok
),
votes AS (
  SELECT id,
    {vote_cols}
  FROM hashed GROUP BY id
),
sig AS (
  SELECT id, {sig_terms} AS simhash FROM votes
),
chunked AS (
  SELECT id, simhash, c.c AS chunk_id,
    (simhash >> CAST(c.c * 15 AS INT)) & 32767 AS chunk_val
  FROM sig, (SELECT unnest(range(4)) AS c) c
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
    a.simhash AS sim_a, b.simhash AS sim_b
  FROM chunked a
  JOIN chunked b
    ON a.chunk_id = b.chunk_id AND a.chunk_val = b.chunk_val
  WHERE a.id < b.id
)
SELECT id_a, id_b,
  CAST(bit_count(xor(sim_a, sim_b)) AS BIGINT) AS hamming
FROM cand
WHERE bit_count(xor(sim_a, sim_b)) <= 3
"""


@query("dedup_simhash_crossengine", _simhash_xengine_oracle())
def dedup_simhash_crossengine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SimHash pipeline under a HARD differential check: 60-bit
    per-bit majority vote → 4-chunk pigeonhole blocking → hamming verify,
    with a two-half md5+Karp-Rabin feature hash both engines compute
    (see ``crossengine_feature_hash``). The DuckDB oracle replays bit
    votes, chunk equi-join, and bit_count(xor) verbatim — value-level
    evidence for the SimHash machinery that the xxhash64 production
    operator (dedup_simhash_pairs) shares."""
    from databricks_etl_pipelines_spark.operators.dedup import (
        crossengine_feature_hash,
        simhash_dedup_pairs,
    )

    docs = table(spark, sf_dir, "documents")
    return simhash_dedup_pairs(
        docs, "text", "doc_id", max_hamming=3, chunks=4,
        hash_expr=crossengine_feature_hash,
    )


# -- duplicate-cluster representatives (connected components) -----------------------

# The Spark side runs iterative hash-min label propagation
# (operators/components.py); the oracle replays the SAME edge set through a
# DuckDB recursive CTE (transitive closure → min reachable id), so an
# iterative distributed graph algorithm gets a hard value-level check.
# Since r13 the edge relation is the shared PPJoin prefix-filter replay
# (_PPJOIN_PAIRS_CTES) instead of the r8 brute-force all-pairs CTE —
# sf0.1-safe like the jaccard and leakage-split oracles.
_CLUSTER_REP_ORACLE = f"""
WITH RECURSIVE prep AS (
  SELECT doc_id AS id, {_SQL_SHINGLES3} AS sh, len({_SQL_SHINGLES3}) AS ln
  FROM documents
),
{_PPJOIN_PAIRS_CTES},
pair AS (
  SELECT id_a, id_b FROM pairs
),
edge AS (
  SELECT id_a AS src, id_b AS dst FROM pair
  UNION
  SELECT id_b AS src, id_a AS dst FROM pair
),
reach(src, dst) AS (
  SELECT src, dst FROM edge
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edge e ON r.dst = e.src
),
lab AS (
  SELECT src AS id, LEAST(src, MIN(dst)) AS cluster_id
  FROM reach GROUP BY src
),
member AS (
  SELECT l.id, l.cluster_id, d.n_chars
  FROM lab l JOIN documents d ON d.doc_id = l.id
),
ranked AS (
  SELECT id, cluster_id, n_chars,
         ROW_NUMBER() OVER (PARTITION BY cluster_id
                            ORDER BY n_chars DESC, id ASC) AS rn
  FROM member
),
csize AS (
  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
  FROM member GROUP BY cluster_id
)
SELECT r.cluster_id, s.cluster_size, r.id AS rep_doc_id,
       r.n_chars AS rep_n_chars
FROM ranked r JOIN csize s USING (cluster_id)
WHERE r.rn = 1
"""


@query("dedup_cluster_representatives", _CLUSTER_REP_ORACLE)
def dedup_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collapse near-dup PAIRS into CLUSTERS and pick one keeper per cluster.

    Pairwise dedup under-deletes on chains (a~b, b~c, a!~c is one cluster of
    three): this runs real connected components (hash-min label propagation,
    O(diameter) shuffle rounds, lineage cut per round) over the exact n-gram
    Jaccard edges, then keeps the longest member per component (ties to the
    smallest doc_id). Closest reference analog: the keyed MERGE INTO
    idempotent-upsert keeps one row per natural key
    (02_Silver_Cleanse_PII.py:174-184); this is the transitive-duplicate
    generalization a 100 TB corpus needs.
    """
    docs = table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.5, shingle_k=3)
    member = duplicate_clusters(pairs).join(
        docs.select(F.col("doc_id").alias("id"), "n_chars"), "id"
    )
    sizes = member.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    w = Window.partitionBy("cluster_id").orderBy(F.desc("n_chars"), F.asc("id"))
    rep = member.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return rep.join(sizes, "cluster_id").select(
        "cluster_id",
        "cluster_size",
        F.col("id").alias("rep_doc_id"),
        F.col("n_chars").alias("rep_n_chars"),
    )


# -- MinHash-LSH near-dup (engine-specific hashes ⇒ rows-only) ----------------------


@query("dedup_minhash_lsh_pairs")
def dedup_minhash_lsh_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return minhash_lsh_dedup_pairs(
        docs, "text", "doc_id", threshold=0.5, num_perm=32, bands=8, shingle_k=3
    )


_MH_INDEX_CACHE: dict[str, MinHashCorpusIndex] = {}


@query("dedup_incremental_corpus")
def dedup_incremental_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Steady-state crawl dedup: even-id docs form the indexed corpus (built
    once, persisted bands + shingle sets); odd-id docs arrive as the new
    batch and are screened against the index — only the batch is shingled.
    (rows-only: xxhash64 signatures are engine-specific; recall/exactness
    pinned by test_minhash_corpus_index_incremental_dedup.)"""
    docs = table(spark, sf_dir, "documents")
    idx = _MH_INDEX_CACHE.get(sf_dir)
    if idx is None:
        corpus = docs.filter(F.col("doc_id") % 2 == 0)
        idx = MinHashCorpusIndex.build(
            corpus, "text", "doc_id", scratch_dir("mh_corpus_")
        )
        _MH_INDEX_CACHE[sf_dir] = idx
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    return idx.match_new(spark, batch, "text", "doc_id", threshold=0.5)


# -- SimHash near-dup (rows-only) ----------------------------------------------------


@query("dedup_simhash_pairs")
def dedup_simhash_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return simhash_dedup_pairs(docs, "text", "doc_id", max_hamming=3, chunks=4)


# -- embedding-cosine near-dup --------------------------------------------------------

_COSINE_PAIRS_ORACLE = """
WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT a.id AS id_a, b.id AS id_b,
  list_dot_product(a.v, b.v)
    / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
    AS cosine_sim
FROM v a, v b
WHERE a.id < b.id
  AND list_dot_product(a.v, b.v)
    / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
    >= 0.45
"""


@query("dedup_embedding_cosine_pairs", _COSINE_PAIRS_ORACLE)
def dedup_embedding_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return embedding_cosine_pairs(
        emb, "embedding", "vec_id", threshold=0.45, sign_bits=0
    )


# Sign bucketing is axis-aligned (bit i = sign of dim i+1), so the blocked
# variant is fully SQL-expressible and gets a hard oracle — the bucket join
# and the recall loss are both replicated exactly.
_COSINE_BLOCKED_ORACLE = """
WITH v AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS v,
    (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END)
    + (CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END)
    + (CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END)
    + (CASE WHEN embedding[4] >= 0 THEN 8 ELSE 0 END) AS bkt
  FROM embeddings
)
SELECT a.id AS id_a, b.id AS id_b,
  list_dot_product(a.v, b.v)
    / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
    AS cosine_sim
FROM v a JOIN v b ON a.bkt = b.bkt AND a.id < b.id
WHERE list_dot_product(a.v, b.v)
    / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
    >= 0.3
"""


@query("dedup_embedding_cosine_blocked", _COSINE_BLOCKED_ORACLE)
def dedup_embedding_cosine_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-bucket-blocked variant (the 100 TB shape): per-bucket self-join
    instead of a crossJoin; the oracle replicates the bucketing exactly."""
    emb = table(spark, sf_dir, "embeddings")
    return embedding_cosine_pairs(
        emb, "embedding", "vec_id", threshold=0.3, sign_bits=4
    )


# -- similarity search ------------------------------------------------------------------


def _query_vector(spark: SparkSession, sf_dir: str) -> list[float]:
    emb = table(spark, sf_dir, "embeddings")
    row = emb.filter(F.col("vec_id") == 0).select("embedding").head()
    return [float(x) for x in row[0]]


_TOPK_COSINE_ORACLE = """
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
s AS (
  SELECT e.vec_id,
    floor(list_dot_product(e.embedding::DOUBLE[], q.qv)
      / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
         * sqrt(list_dot_product(q.qv, q.qv))) * 1000000 + 0.5) / 1000000
      AS cosine_sim
  FROM embeddings e, q
)
SELECT vec_id, cosine_sim FROM s
ORDER BY cosine_sim DESC, vec_id
LIMIT 20
"""


@query("similarity_cosine_topk", _TOPK_COSINE_ORACLE)
def similarity_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    qv = _query_vector(spark, sf_dir)
    topk = brute_force_cosine_topk(emb, "embedding", "vec_id", qv, k=20)
    return (
        topk.select("vec_id", stable_round(F.col("cosine_sim"), 6).alias("cosine_sim"))
        .orderBy(F.desc("cosine_sim"), "vec_id")
    )


def _lsh_ann_oracle(bits: int = 6, dim: int = 64) -> str:
    """Sign-LSH replayed exactly in SQL: the hyperplanes are DETERMINISTIC
    literals (seeded numpy, computed once at import), so the oracle embeds
    the same constants and reproduces every sign decision with the same
    strict left-fold dot product (list_reduce == Spark aggregate(zip_with)
    == the query-side Python fold — identical IEEE operation order)."""
    from databricks_etl_pipelines_spark.operators.similarity import (
        hyperplanes,
    )

    planes = hyperplanes(dim, bits, seed=42)

    def fold_dot(vec_expr: str, plane) -> str:
        lits = ", ".join(repr(float(p)) for p in plane)
        return (
            "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(range(1, {dim + 1}), "
            f"j -> {vec_expr}[j] * ([{lits}])[j])), "
            "(acc, x) -> acc + x)"
        )

    sig_terms = " + ".join(
        f"(CASE WHEN {fold_dot('v', planes[i])} >= 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i in range(bits)
    )
    qsig_terms = " + ".join(
        f"(CASE WHEN {fold_dot('qv', planes[i])} >= 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i in range(bits)
    )
    return f"""
WITH q AS (
  SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
),
qs AS (SELECT {qsig_terms} AS qsig FROM q),
v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
sig AS (SELECT vec_id, v, {sig_terms} AS sig FROM v)
SELECT vec_id,
  floor(list_dot_product(sig.v, q.qv)
    / (sqrt(list_dot_product(sig.v, sig.v))
       * sqrt(list_dot_product(q.qv, q.qv))) * 1000000 + 0.5) / 1000000
    AS cosine_sim
FROM sig, q, qs
WHERE sig.sig = qs.qsig
ORDER BY cosine_sim DESC, vec_id
LIMIT 20
"""


@query("similarity_lsh_ann_topk", _lsh_ann_oracle())
def similarity_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k (scan-reduction scale path). HARD
    oracle: the deterministic hyperplane constants are embedded in the SQL
    and every sign decision + the bucket probe + cosine ranking is
    replayed value-for-value (see _lsh_ann_oracle)."""
    emb = table(spark, sf_dir, "embeddings")
    qv = _query_vector(spark, sf_dir)
    topk = lsh_ann_topk(emb, "embedding", "vec_id", qv, k=20, bits=6)
    return topk.select(
        "vec_id", stable_round(F.col("cosine_sim"), 6).alias("cosine_sim")
    ).orderBy(F.desc("cosine_sim"), "vec_id")


_BATCH_TOPK_ORACLE = """
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings
  WHERE vec_id < 8
),
v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
scored AS (
  SELECT q.query_id, v.vec_id,
    floor(list_dot_product(v.v, q.qv)
      / (sqrt(list_dot_product(v.v, v.v))
         * sqrt(list_dot_product(q.qv, q.qv))) * 1000000 + 0.5) / 1000000
      AS cosine_sim
  FROM v, q
)
SELECT query_id, vec_id, cosine_sim,
  CAST(row_number() OVER (PARTITION BY query_id
    ORDER BY cosine_sim DESC, vec_id) AS INT) AS rank
FROM scored
QUALIFY rank <= 5
"""


@query("similarity_batch_topk", _BATCH_TOPK_ORACLE)
def similarity_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch retrieval: exact top-5 for EIGHT query vectors in one corpus
    scan (broadcast the query set, per-query window rank) — the eval/
    serving shape where per-query scans would cost 8x. Hard oracle: the
    scored grid and ranking replay exactly in SQL."""
    from databricks_etl_pipelines_spark.operators.similarity import (
        batch_cosine_topk,
    )

    emb = table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 8).select("vec_id", "embedding")
    return batch_cosine_topk(
        emb, "embedding", "vec_id", qs, "vec_id", "embedding", k=5,
        round_sim=6,
    )


# Hard-example mining: one corpus scan for the whole anchor batch; the
# argmaxes replay via rounded-before-rank windows with id tiebreaks.
_TRIPLETS_ORACLE = """
WITH a AS (
  SELECT vec_id AS anchor_id, embedding::DOUBLE[] AS av, label AS anchor_label
  FROM embeddings WHERE vec_id < 8
),
v AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
s AS (
  SELECT a.anchor_id, a.anchor_label, v.vec_id, v.label,
    floor(list_dot_product(v.v, a.av)
      / (sqrt(list_dot_product(v.v, v.v))
         * sqrt(list_dot_product(a.av, a.av))) * 1000000 + 0.5) / 1000000
      AS sim
  FROM v, a
),
pos AS (
  SELECT anchor_id, vec_id AS positive_id, sim AS positive_sim,
    row_number() OVER (PARTITION BY anchor_id
                       ORDER BY sim DESC, vec_id) AS rn
  FROM s WHERE label = anchor_label AND vec_id != anchor_id
),
neg AS (
  SELECT anchor_id, vec_id AS negative_id, sim AS negative_sim,
    row_number() OVER (PARTITION BY anchor_id
                       ORDER BY sim DESC, vec_id) AS rn
  FROM s WHERE label != anchor_label
)
SELECT a.anchor_id, a.anchor_label,
  p.positive_id, p.positive_sim, n.negative_id, n.negative_sim,
  floor((p.positive_sim - n.negative_sim) * 1000000 + 0.5) / 1000000
    AS margin
FROM a
LEFT JOIN pos p ON p.anchor_id = a.anchor_id AND p.rn = 1
LEFT JOIN neg n ON n.anchor_id = a.anchor_id AND n.rn = 1
"""


@query("sft_contrastive_triplets", _TRIPLETS_ORACLE)
def sft_contrastive_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-example mining for contrastive training: per anchor (an
    8-vector batch), the hardest positive (most-similar same-label) and
    hardest negative (most-similar different-label), plus the margin a
    triplet loss would push on. Hard oracle: the scored grid, both
    rounded-before-rank argmaxes, and the margin replay exactly in SQL.
    Scale shape: one corpus scan for the whole batch (broadcast anchors,
    single conditional-struct-max aggregate) — see
    operators/similarity.py::contrastive_triplets."""
    from databricks_etl_pipelines_spark.operators.similarity import (
        contrastive_triplets,
    )

    emb = table(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") < 8)
    return contrastive_triplets(
        emb, "embedding", "vec_id", "label", anchors, round_sim=6
    )


# Achlioptas JL projection: the whole matrix is a pure hash function of
# (i, j), inputs quantize to the integer lattice, and the projection is
# then exact integer arithmetic — fully replayable, order-free sums.
_JL_IN, _JL_OUT = 64, 16
_JL_HASH = """list_reduce(
      list_prepend(CAST(0 AS BIGINT),
        list_transform(
          regexp_extract_all(md5('jl:' || i || ':' || j), '.'),
          c -> CAST(ord(c) AS BIGINT))),
      (acc, c) -> (acc * 257 + c) % 2147483647) % 6"""

_JL_PREFIX = f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings),
q AS (
  SELECT vec_id,
    list_transform(x, e -> CAST(floor(e * CAST(1048576 AS DOUBLE)
                                      + CAST(0.5 AS DOUBLE)) AS BIGINT))
      AS qx
  FROM v
),
ij AS (
  SELECT a.i, b.j
  FROM (SELECT unnest(range(1, {_JL_IN + 1})) AS i) a,
       (SELECT unnest(range(0, {_JL_OUT})) AS j) b
),
r AS (
  SELECT i, j,
    CASE ({_JL_HASH}) WHEN 0 THEN 1 WHEN 1 THEN -1 ELSE 0 END AS r
  FROM ij
),
prj AS MATERIALIZED (
  SELECT q.vec_id, r.j,
    CAST(sum(q.qx[CAST(r.i AS INT)] * r.r) AS BIGINT) AS yq
  FROM q CROSS JOIN r GROUP BY q.vec_id, r.j
),
ny AS MATERIALIZED (
  SELECT vec_id, CAST(sum(yq * yq) AS BIGINT) AS y2
  FROM prj GROUP BY vec_id
),
nx AS (
  SELECT vec_id,
    CAST(list_reduce(
      list_prepend(CAST(0 AS BIGINT), list_transform(qx, a -> a * a)),
      (acc, t) -> acc + t) AS BIGINT) AS x2
  FROM q
)
"""

_JL_ORACLE = _JL_PREFIX + f"""
SELECT nx.vec_id, nx.x2, ny.y2,
  {sql_stable_round(
      '(CAST(ny.y2 AS DOUBLE) * CAST(3 AS DOUBLE))'
      f' / NULLIF(CAST(nx.x2 AS DOUBLE) * CAST({_JL_OUT} AS DOUBLE),'
      ' CAST(0 AS DOUBLE))', 6)}
    AS jl_ratio
FROM nx JOIN ny USING (vec_id)
"""


@query("embedding_jl_projection", _JL_ORACLE)
def embedding_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss shrink for embedding pipelines: 64-dim
    vectors projected to 16 dims with the Achlioptas sparse ±1 matrix
    (entries a pure md5-hash function of (i, j) — 2/3 of them zero).
    Inputs quantize to the 2^-20 integer lattice, so the projection is
    exact integer arithmetic and the oracle replays the matrix, every
    projected coordinate, and the norm-preservation ratio the JL lemma
    says concentrates at 1. Scale shape: posexplode + broadcast
    entry-relation join + two integer aggregates — linear, no pairs
    (operators/similarity.py::jl_project)."""
    from databricks_etl_pipelines_spark.operators.similarity import (
        jl_project,
    )

    emb = table(spark, sf_dir, "embeddings")
    out = jl_project(
        emb, "embedding", "vec_id", out_dim=_JL_OUT, in_dim=_JL_IN
    )
    return out.select(
        F.col("id").alias("vec_id"), "x2", "y2", "jl_ratio"
    )


# JL-space retrieval recall: top-10 by projected cosine vs exact cosine
# in the original space — measures what the 4x shrink costs retrieval.
_JL_RECALL_ORACLE = _JL_PREFIX + """
, pd AS (
  SELECT c.vec_id AS id, a.vec_id AS query_id,
    CAST(sum(c.yq * a.yq) AS BIGINT) AS dot
  FROM prj c JOIN prj a ON a.j = c.j AND a.vec_id < 8
  GROUP BY c.vec_id, a.vec_id
),
ps AS (
  SELECT query_id, id,
    floor(CAST(pd.dot AS DOUBLE)
          / (sqrt(CAST(cy.y2 AS DOUBLE)) * sqrt(CAST(ay.y2 AS DOUBLE)))
          * 1000000 + 0.5) / 1000000 AS sim
  FROM pd
  JOIN ny cy ON cy.vec_id = pd.id
  JOIN ny ay ON ay.vec_id = pd.query_id
),
prank AS (
  SELECT query_id, id,
    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, id) AS rn
  FROM ps
),
es AS (
  SELECT a.vec_id AS query_id, c.vec_id AS id,
    floor(list_dot_product(c.x, a.x)
      / (sqrt(list_dot_product(c.x, c.x))
         * sqrt(list_dot_product(a.x, a.x))) * 1000000 + 0.5) / 1000000
      AS sim
  FROM v c, v a WHERE a.vec_id < 8
),
erank AS (
  SELECT query_id, id,
    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, id) AS rn
  FROM es
)
SELECT p.query_id, CAST(count(*) AS BIGINT) AS n_overlap,
  floor(CAST(count(*) AS DOUBLE) / CAST(10 AS DOUBLE) * 1000000 + 0.5)
    / 1000000 AS recall_at_10
FROM (SELECT query_id, id FROM prank WHERE rn <= 10) p
JOIN (SELECT query_id, id FROM erank WHERE rn <= 10) e
  USING (query_id, id)
GROUP BY p.query_id
"""


@query("similarity_jl_recall", _JL_RECALL_ORACLE)
def similarity_jl_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What the JL shrink costs retrieval: per anchor (8-query batch),
    recall@10 of top-10 by PROJECTED-space cosine (16-dim integer
    vectors, exact BIGINT dots) against exact original-space cosine.
    Both rankings and the recall numbers replay in SQL — the same
    measured-not-assumed discipline as similarity_ann_recall, applied
    to the dimensionality-reduction path."""
    from pyspark.sql import Window

    from databricks_etl_pipelines_spark.operators.similarity import (
        batch_cosine_topk,
        jl_project_coords,
    )

    emb = table(spark, sf_dir, "embeddings")
    proj = jl_project_coords(emb, "embedding", "vec_id")
    ny = proj.groupBy("id").agg(
        F.sum(F.col("yq") * F.col("yq")).alias("y2")
    )
    anchors = proj.filter(F.col("id") < 8).select(
        F.col("id").alias("query_id"), "j", F.col("yq").alias("aq")
    )
    dots = (
        proj.join(F.broadcast(anchors), "j")
        .groupBy("id", "query_id")
        .agg(F.sum(F.col("yq") * F.col("aq")).alias("dot"))
    )
    sim = stable_round(
        F.col("dot").cast("double")
        / (F.sqrt(F.col("y2").cast("double"))
           * F.sqrt(F.col("ay2").cast("double"))),
        6,
    )
    scored = (
        dots.join(ny, "id")
        .join(
            F.broadcast(
                ny.select(F.col("id").alias("query_id"),
                          F.col("y2").alias("ay2"))
            ),
            "query_id",
        )
        .select("query_id", "id", sim.alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.col("id"))
    ptop = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("query_id", "id")
    )
    qs = emb.filter(F.col("vec_id") < 8).select("vec_id", "embedding")
    etop = batch_cosine_topk(
        emb, "embedding", "vec_id", qs, "vec_id", "embedding",
        k=10, round_sim=6,
    ).select("query_id", F.col("vec_id").alias("id"))
    return (
        ptop.join(etop, ["query_id", "id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("n_overlap"))
        .select(
            "query_id",
            "n_overlap",
            stable_round(
                F.col("n_overlap").cast("double") / F.lit(10.0), 6
            ).alias("recall_at_10"),
        )
    )


# -- ANN recall@k report (retrieval-quality eval) -----------------------------

def _ann_recall_oracle(dim: int = 64, nlist: int = 16, nprobe: int = 4,
                       stride: int = 29, k: int = 10) -> str:
    """Both rankings — exact brute force AND the deterministic-IVF ANN —
    replayed in SQL, then recall joined out per query. Same fold / same
    rounding-before-rank / same id tiebreaks as the Spark side, so the
    recall NUMBER (not just row counts) is differentially checked."""

    def fold_sq(vec: str, cv: str) -> str:
        return (
            "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(range(1, {dim + 1}), "
            f"j -> ({vec}[j] - {cv}[j]) * ({vec}[j] - {cv}[j]))), "
            "(acc, x) -> acc + x)"
        )

    def cos6(vec: str, qv: str) -> str:
        return (
            f"floor(list_dot_product({vec}, {qv}) "
            f"/ (sqrt(list_dot_product({vec}, {vec})) "
            f"* sqrt(list_dot_product({qv}, {qv}))) * 1000000 + 0.5) "
            "/ 1000000"
        )

    return f"""
WITH cent AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings
  WHERE vec_id % {stride} = 0 ORDER BY vec_id LIMIT {nlist}
),
v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
grid AS (
  SELECT v.id, v.v, cent.cid, {fold_sq('v.v', 'cent.cv')} AS d
  FROM v, cent
),
assigned AS (
  SELECT id, v, cid AS list_id FROM (
    SELECT *, row_number() OVER (PARTITION BY id ORDER BY d, cid) AS rn
    FROM grid
  ) WHERE rn = 1
),
q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings
  WHERE vec_id < 8
),
qgrid AS (
  SELECT q.query_id, cent.cid, {fold_sq('q.qv', 'cent.cv')} AS d
  FROM q, cent
),
qprobe AS (
  SELECT query_id, cid FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY d, cid)
      AS rn
    FROM qgrid
  ) WHERE rn <= {nprobe}
),
ann AS (
  SELECT query_id, id FROM (
    SELECT p.query_id, a.id,
      row_number() OVER (PARTITION BY p.query_id
        ORDER BY {cos6('a.v', 'q.qv')} DESC, a.id) AS rnk
    FROM assigned a
    JOIN qprobe p ON a.list_id = p.cid
    JOIN q ON q.query_id = p.query_id
  ) WHERE rnk <= {k}
),
exact AS (
  SELECT query_id, id FROM (
    SELECT q.query_id, v.id,
      row_number() OVER (PARTITION BY q.query_id
        ORDER BY {cos6('v.v', 'q.qv')} DESC, v.id) AS rnk
    FROM v, q
  ) WHERE rnk <= {k}
)
SELECT e.query_id,
  CAST(count(*) AS BIGINT) AS exact_k,
  CAST(count(a.id) AS BIGINT) AS ann_hits,
  CAST(count(a.id) AS DOUBLE) / count(*) AS recall_at_k
FROM exact e
LEFT JOIN ann a ON a.query_id = e.query_id AND a.id = e.id
GROUP BY e.query_id
"""


@query("similarity_ann_recall", _ann_recall_oracle())
def similarity_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the deterministic-IVF ANN vs exact brute-force cosine
    for an 8-query batch (operators/similarity.py::ann_recall_report) —
    the retrieval-quality report that must accompany any ANN deployment
    (an unmeasured recall is how silent retrieval regressions ship). The
    recall VALUES carry oracle weight, not just the row count: both
    rankings replay in SQL with identical folds, rounding-before-rank,
    and id tiebreaks, and nprobe=4/16 lists makes recall genuinely < 1
    for most queries, so a probe-selection or assignment bug moves the
    compared numbers."""
    from databricks_etl_pipelines_spark.operators.similarity import (
        ann_recall_report,
    )

    emb = table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 8).select("vec_id", "embedding")
    return ann_recall_report(
        emb, "embedding", "vec_id", qs, "vec_id", "embedding",
        k=10, nlist=16, nprobe=4, centroid_stride=29, round_sim=6,
    )


def _ivf_crossengine_oracle(dim: int = 64, nlist: int = 16, nprobe: int = 4,
                            stride: int = 29,
                            centroid_where: str = "") -> str:
    """The whole IVF pipeline replayed in SQL: deterministic strided
    centroids, strict-left-fold squared-L2 assignment (ties to lower
    centroid id), nprobe nearest lists, exact cosine ranking. Every
    distance uses the same list_reduce fold as Spark's aggregate(zip_with)
    so the argmin/probe decisions are bit-identical."""

    def fold_sq(vec: str, cv: str) -> str:
        return (
            "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(range(1, {dim + 1}), "
            f"j -> ({vec}[j] - {cv}[j]) * ({vec}[j] - {cv}[j]))), "
            "(acc, x) -> acc + x)"
        )

    return f"""
WITH cent AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings
  WHERE vec_id % {stride} = 0{centroid_where} ORDER BY vec_id LIMIT {nlist}
),
v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
grid AS (
  SELECT v.id, v.v, cent.cid, {fold_sq('v.v', 'cent.cv')} AS d
  FROM v, cent
),
assigned AS (
  SELECT id, v, cid AS list_id FROM (
    SELECT *, row_number() OVER (PARTITION BY id ORDER BY d, cid) AS rn
    FROM grid
  ) WHERE rn = 1
),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
qd AS (
  SELECT cent.cid, {fold_sq('q.qv', 'cent.cv')} AS d FROM cent, q
),
probe AS (SELECT cid FROM qd ORDER BY d, cid LIMIT {nprobe})
SELECT a.id AS vec_id,
  floor(list_dot_product(a.v, q.qv)
    / (sqrt(list_dot_product(a.v, a.v))
       * sqrt(list_dot_product(q.qv, q.qv))) * 1000000 + 0.5) / 1000000
    AS cosine_sim
FROM assigned a JOIN probe p ON a.list_id = p.cid CROSS JOIN q
ORDER BY cosine_sim DESC, vec_id
LIMIT 20
"""


@query("similarity_ivf_crossengine", _ivf_crossengine_oracle())
def similarity_ivf_crossengine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN under a HARD oracle: deterministic strided centroids make
    the full bucket machinery (assignment argmin, probe-list pruning,
    in-list cosine ranking) SQL-replayable value-for-value — the
    differential check the KMeans IVF variants can't have. Production
    keeps learned centroids (similarity_ivf_topk / _persisted)."""
    from databricks_etl_pipelines_spark.operators.similarity import (
        ivf_topk_deterministic,
    )

    emb = table(spark, sf_dir, "embeddings")
    qv = _query_vector(spark, sf_dir)
    topk = ivf_topk_deterministic(
        emb, "embedding", "vec_id", qv, k=20, nlist=16, nprobe=4,
        centroid_stride=29,
    )
    return topk.select(
        "vec_id", stable_round(F.col("cosine_sim"), 6).alias("cosine_sim")
    ).orderBy(F.desc("cosine_sim"), "vec_id")


_INCR_IVF_CACHE: dict[str, IvfIndex] = {}


@query(
    "similarity_incremental_ivf",
    _ivf_crossengine_oracle(centroid_where=" AND vec_id % 2 = 0"),
)
def similarity_incremental_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted IVF index maintained INCREMENTALLY: build on the even
    vec_ids (quantizer frozen there), append the odd half with the same
    argmin machinery, probe — and the result must equal the SQL replay of
    centroids-from-evens + assignment-of-everything + probe. The
    streaming-ingest closure of the ANN family: append cost is one
    broadcast grid over the batch, probe cost stays hive-pruned to nprobe
    list dirs no matter how many appends landed
    (operators/similarity.py::IvfIndex)."""
    idx = _INCR_IVF_CACHE.get(sf_dir)
    if idx is None:
        emb = table(spark, sf_dir, "embeddings")
        idx = IvfIndex(scratch_dir("det_ivf_"))
        idx.build(
            emb.filter(F.col("vec_id") % 2 == 0), "embedding", "vec_id",
            nlist=16, centroid_stride=29,
        )
        idx.append(
            emb.filter(F.col("vec_id") % 2 == 1), "embedding", "vec_id"
        )
        _INCR_IVF_CACHE[sf_dir] = idx
    qv = _query_vector(spark, sf_dir)
    topk = idx.probe(spark, qv, "vec_id", k=20, nprobe=4)
    return topk.select(
        "vec_id", stable_round(F.col("cosine_sim"), 6).alias("cosine_sim")
    ).orderBy(F.desc("cosine_sim"), "vec_id")


def _kmeans_xengine_oracle(k: int = 8, iters: int = 3, dim: int = 64,
                           stride: int = 29, scale_bits: int = 20) -> str:
    """Unrolled SQL replay of kmeans_lloyd_deterministic: strided init,
    then per iteration an assignment CTE (strict-fold squared L2,
    row_number ties to lower cluster) and an update CTE whose centroid
    means are EXACT — coordinates quantized to the 2^-scale_bits lattice
    and summed as BIGINTs (order-independent), one IEEE division at the
    end, empty clusters COALESCE to their previous centroid. Because
    every intermediate is integer-exact or a single deterministic float
    op, the oracle matches Spark's distributed trajectory bit-for-bit."""
    S = f"{1 << scale_bits}.0"

    def fold_sq(vec: str, cv: str) -> str:
        return (
            "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(range(1, {dim + 1}), "
            f"j -> ({vec}[j] - {cv}[j]) * ({vec}[j] - {cv}[j]))), "
            "(acc, x) -> acc + x)"
        )

    parts = [f"""v AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
),
cent0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cluster,
         embedding::DOUBLE[] AS cv
  FROM (SELECT vec_id, embedding FROM embeddings
        WHERE vec_id % {stride} = 0 ORDER BY vec_id LIMIT {k})
)"""]
    for t in range(iters):
        parts.append(f"""a{t} AS (
  SELECT id, v, cluster FROM (
    SELECT v.id, v.v, c.cluster,
      row_number() OVER (
        PARTITION BY v.id ORDER BY {fold_sq('v.v', 'c.cv')}, c.cluster
      ) AS rn
    FROM v, cent{t} c) WHERE rn = 1
),
u{t} AS (
  SELECT cluster, j,
    CAST(sum(CAST(floor(v[j] * {S} + 0.5) AS BIGINT)) AS DOUBLE)
      / ({S} * count(*)) AS c
  FROM a{t}, (SELECT unnest(range(1, {dim + 1})) AS j)
  GROUP BY cluster, j
),
cent{t + 1} AS (
  SELECT p.cluster, COALESCE(n.cv, p.cv) AS cv
  FROM cent{t} p
  LEFT JOIN (SELECT cluster, array_agg(c ORDER BY j) AS cv
             FROM u{t} GROUP BY cluster) n
    ON p.cluster = n.cluster
)""")
    ctes = ",\n".join(parts)
    return f"""
WITH {ctes}
SELECT id AS vec_id, cluster,
  floor(d * 1000000 + 0.5) / 1000000 AS dist
FROM (
  SELECT v.id, c.cluster, {fold_sq('v.v', 'c.cv')} AS d,
    row_number() OVER (
      PARTITION BY v.id ORDER BY {fold_sq('v.v', 'c.cv')}, c.cluster
    ) AS rn
  FROM v, cent{iters} c
) WHERE rn = 1
"""


@query("ml_kmeans_lloyd_crossengine", _kmeans_xengine_oracle())
def ml_kmeans_lloyd_crossengine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means under a HARD differential oracle —
    the LEARNING LOOP itself replayed in SQL, not just its outputs
    (operators/similarity.py::kmeans_lloyd_deterministic). The trick is
    integer-lattice centroid updates: member coordinates quantize to the
    2^-20 lattice and sum as BIGINTs, so the float-mean trajectory that
    makes pyspark.ml KMeans engine-specific (semdedup_pairs /
    similarity_ivf_topk are rows-only for that reason) becomes
    order-independent and bit-identical across engines, through all 3
    iterations AND the final assignment of every vector. Production
    clustering keeps pyspark.ml KMeans; this variant exists so the
    iterate-assign-update machinery carries oracle weight. Wall-clock
    at test scale is Spark JOB-COUNT overhead (one driver action per
    Lloyd iteration — inherent to the algorithm, identical in
    pyspark.ml), not data cost: each iteration is one scan + one
    broadcast + dim bounded integer sums."""
    from databricks_etl_pipelines_spark.operators.similarity import (
        kmeans_lloyd_deterministic,
    )

    emb = table(spark, sf_dir, "embeddings")
    out = kmeans_lloyd_deterministic(
        emb, "embedding", "vec_id", k=8, iters=3, centroid_stride=29
    )
    return out.select(
        F.col("id").alias("vec_id"),
        "cluster",
        stable_round(F.col("d"), 6).alias("dist"),
    )


def _pq_adc_crossengine_oracle(dim: int = 64, m: int = 4, ksub: int = 16,
                               stride: int = 29, candidates: int = 50,
                               k: int = 10) -> str:
    """The full PQ-ADC pipeline replayed in SQL: strided deterministic
    codebooks, per-subspace argmin encoding (strict fold, ties to the
    lower codeword), fixed-order ADC sum, candidate cut, exact cosine
    re-rank. Every float the ranking depends on is computed with the same
    IEEE op order on both engines."""
    sub = dim // m

    def fold_sq(a: str, b: str, off: str) -> str:
        return (
            "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(range(1, {sub + 1}), "
            f"j -> ({a}[{off} + j] - {b}[{off} + j]) "
            f"* ({a}[{off} + j] - {b}[{off} + j]))), "
            "(acc, x) -> acc + x)"
        )

    pivots = ",\n    ".join(
        f"SUM(CASE WHEN s = {i} THEN qd END) AS qd{i}" for i in range(m)
    )
    adc = " + ".join(f"qd{i}" for i in range(m))
    return f"""
WITH cent AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS c,
         embedding::DOUBLE[] AS cv
  FROM embeddings WHERE vec_id % {stride} = 0 ORDER BY vec_id LIMIT {ksub}
),
v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
sub AS (SELECT CAST(unnest(range(0, {m})) AS INT) AS s),
qd AS (
  SELECT sub.s, cent.c, {fold_sq('q.qv', 'cent.cv', f'sub.s * {sub}')} AS qd
  FROM sub, cent, q
),
enc AS (
  SELECT v.id, v.v, sub.s, cent.c,
    {fold_sq('v.v', 'cent.cv', f'sub.s * {sub}')} AS d
  FROM v, sub, cent
),
code AS (
  SELECT id, v, s, c FROM (
    SELECT *, row_number() OVER (PARTITION BY id, s ORDER BY d, c) AS rn
    FROM enc
  ) WHERE rn = 1
),
wq AS (
  SELECT code.id, code.v, qd.s, qd.qd
  FROM code JOIN qd ON code.s = qd.s AND code.c = qd.c
),
piv AS (
  SELECT id, v,
    {pivots}
  FROM wq GROUP BY id, v
),
cand AS (
  SELECT id, v, {adc} AS adc_dist FROM piv
  ORDER BY adc_dist, id LIMIT {candidates}
)
SELECT cand.id AS vec_id,
  floor(cand.adc_dist * 1000000 + 0.5) / 1000000 AS adc_dist,
  floor(list_dot_product(cand.v, q.qv)
    / (sqrt(list_dot_product(cand.v, cand.v))
       * sqrt(list_dot_product(q.qv, q.qv))) * 1000000 + 0.5) / 1000000
    AS cosine_sim
FROM cand, q
ORDER BY cosine_sim DESC, vec_id
LIMIT {k}
"""


@query("similarity_pq_adc_crossengine", _pq_adc_crossengine_oracle())
def similarity_pq_adc_crossengine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC under a HARD oracle: deterministic strided codebooks make
    encoding, the asymmetric-distance lookup, the candidate cut, and the
    exact re-rank SQL-replayable — the differential check the learned-
    codebook PQ index (similarity_pq_ivf_topk) can't have."""
    from databricks_etl_pipelines_spark.operators.similarity import (
        pq_adc_topk_deterministic,
    )

    emb = table(spark, sf_dir, "embeddings")
    qv = _query_vector(spark, sf_dir)
    got = pq_adc_topk_deterministic(
        emb, "embedding", "vec_id", qv, k=10, m=4, ksub=16,
        centroid_stride=29, candidates=50,
    )
    return got.select(
        "vec_id",
        stable_round(F.col("adc_dist"), 6).alias("adc_dist"),
        stable_round(F.col("cosine_sim"), 6).alias("cosine_sim"),
    ).orderBy(F.desc("cosine_sim"), "vec_id")


@query("similarity_ivf_topk")
def similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: KMeans coarse quantizer, probe the 4 nearest of 16 inverted
    lists (rows-only — learned centroids aren't SQL-expressible)."""
    emb = table(spark, sf_dir, "embeddings")
    qv = _query_vector(spark, sf_dir)
    return ivf_topk(emb, "embedding", "vec_id", qv, k=20, nlist=16, nprobe=4,
                    # centroid quality needs representative data, not all
                    # of it: at 100 TB the quantizer fits on a sample
                    sample_fraction=0.5)


_PQ_INDEX_CACHE: dict[str, IvfIndex] = {}


@query("similarity_pq_ivf_topk")
def similarity_pq_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (ADC + exact re-rank): probe reads nprobe pruned lists and
    scores candidates from uint8 codes via a driver-side lookup table
    before re-ranking survivors exactly (rows-only: learned codebooks;
    recall pinned by test_pq_ivf_adc_probe_recall)."""
    emb = table(spark, sf_dir, "embeddings")
    qv = _query_vector(spark, sf_dir)
    idx = _PQ_INDEX_CACHE.get(sf_dir)
    if idx is None:
        idx = IvfIndex(scratch_dir("pq_ivf_"))
        idx.build_pq(
            emb, "embedding", "vec_id",
            nlist=16, m=4, k=16, seed=42, sample_fraction=0.5,
        )
        _PQ_INDEX_CACHE[sf_dir] = idx
    return idx.probe_pq(spark, qv, kk=20, nprobe=4, rerank=80)


_IVF_INDEX_CACHE: dict[str, IvfIndex] = {}


@query("similarity_ivf_persisted")
def similarity_ivf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production IVF shape: build the index ONCE (inverted lists persisted
    hive-partitioned by list_id, centroids as metadata), then answer with a
    partition-pruned probe — the scan reads only nprobe of nlist list
    directories (rows-only: learned centroids aren't SQL-expressible)."""
    emb = table(spark, sf_dir, "embeddings")
    qv = _query_vector(spark, sf_dir)
    idx = _IVF_INDEX_CACHE.get(sf_dir)
    if idx is None:
        idx = IvfIndex(scratch_dir("ivf_index_"))
        idx.build_kmeans(
            emb, "embedding", "vec_id", nlist=16, seed=42, sample_fraction=0.5,
        )
        _IVF_INDEX_CACHE[sf_dir] = idx
    return idx.probe(spark, qv, "vec_id", k=20, nprobe=4)


@query("similarity_pandas_udf_topk", _TOPK_COSINE_ORACLE)
def similarity_pandas_udf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized Pandas-UDF cosine variant, under the SAME hard
    oracle as the expression form: numpy's per-row float path lands on
    identical values at 6-dp stable rounding, so the Arrow UDF transport
    (batch shapes, dtype mapping, null handling) is value-checked too."""
    emb = table(spark, sf_dir, "embeddings")
    qv = _query_vector(spark, sf_dir)
    topk = pandas_cosine_topk(emb, "embedding", "vec_id", qv, k=20)
    return topk.select(
        "vec_id", stable_round(F.col("cosine_sim"), 6).alias("cosine_sim")
    ).orderBy(F.desc("cosine_sim"), "vec_id")


# -- multimodal plumbing -------------------------------------------------------------------

_BINARY_STATS_ORACLE = """
SELECT doc_id,
  octet_length(encode(text)) AS n_bytes,
  sha256(text) AS payload_sha256
FROM documents
"""


@query("multimodal_binary_stats", _BINARY_STATS_ORACLE)
def multimodal_binary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return binary_stats(to_binary_docs(docs, "text", "doc_id"))


_BYTE_HISTOGRAM_ORACLE = """
WITH b AS (
  SELECT doc_id,
    list_transform(regexp_extract_all(text, '.'), c -> ord(c) // 16) AS bins,
    len(regexp_extract_all(text, '.')) AS l
  FROM documents
)
SELECT doc_id, CAST(l AS BIGINT) AS n_bytes,
  array_to_string(
    list_transform(range(0, 16), bin ->
      CAST(CAST(
        floor((len(list_filter(bins, x -> x = bin)) * 1.0
               / greatest(l, 1)) * 1000000 + 0.5) / 1000000
        AS DECIMAL(8,6)) AS VARCHAR)),
    ',') AS byte_histogram_csv
FROM b
"""


@query("multimodal_byte_histogram", _BYTE_HISTOGRAM_ORACLE)
def multimodal_byte_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary→fixed-width-vector featurizer over Arrow batches. The
    payloads here are UTF-8 text (ASCII at this SF), so the DuckDB oracle
    reconstructs the exact byte stream with ord() per char and replays the
    16-bin (byte >> 4) histogram in SQL — a HARD check on the whole Arrow
    binary path, not just a row count.

    The vector is serialized to a CSV string column: the driver's
    canonicalizer sorts/hashes every column via pandas and cannot handle a
    raw array<double> (round-1 'unhashable type: list' error)."""
    docs = table(spark, sf_dir, "documents")
    feats = byte_histogram_features(to_binary_docs(docs, "text", "doc_id"))
    return feats.select(
        "doc_id", "n_bytes",
        F.array_join(
            F.transform(
                "byte_histogram",
                lambda x: stable_round(x, 6).cast("decimal(8,6)").cast(
                    "string"
                ),
            ),
            ",",
        ).alias("byte_histogram_csv"),
    )


_DOWNSAMPLE_ORACLE = """
WITH b AS (
  SELECT doc_id, regexp_extract_all(text, '.') AS cs FROM documents
)
SELECT doc_id,
  CAST(len(range(1, len(cs) + 1, 4)) AS BIGINT) AS n_bytes,
  sha256(array_to_string(
    list_transform(range(1, len(cs) + 1, 4), i -> cs[i]), ''))
    AS payload_sha256
FROM b
"""


@query("multimodal_downsample_stats", _DOWNSAMPLE_ORACLE)
def multimodal_downsample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed multimodal stages: downsample (resize analog, every 4th
    byte) → binary_stats, two chained mapInPandas over the same Arrow
    batches. The oracle rebuilds the strided byte selection char-by-char
    in SQL and sha256-compares the reconstructed payloads — end-to-end
    byte-exactness of the composed pipeline."""
    from databricks_etl_pipelines_spark.operators.multimodal import (
        downsample_payload,
    )

    docs = table(spark, sf_dir, "documents")
    shrunk = downsample_payload(to_binary_docs(docs, "text", "doc_id"), 4)
    return binary_stats(shrunk)


_CHUNK_ENERGY_ORACLE = f"""
WITH b AS (
  SELECT doc_id,
    list_transform(regexp_extract_all(text, '.'), c -> ord(c)) AS bs
  FROM documents
),
e AS (
  SELECT doc_id, bs, len(bs) AS l, len(bs) // 4 AS q, len(bs) % 4 AS r,
    unnest(range(0, 4)) AS chunk_id
  FROM b
),
s AS (
  SELECT doc_id, chunk_id, bs,
    chunk_id * q + least(chunk_id, r) AS start0,
    q + CASE WHEN chunk_id < r THEN 1 ELSE 0 END AS sz
  FROM e
)
SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
  CAST(sz AS BIGINT) AS chunk_bytes,
  {sql_stable_round(
      'CASE WHEN sz = 0 THEN 0.0 ELSE '
      'list_sum(bs[start0 + 1 : start0 + sz]) * 1.0 / sz END', 6)}
    AS energy
FROM s
"""


@query("multimodal_chunk_energy", _CHUNK_ENERGY_ORACLE)
def multimodal_chunk_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame/segment sampling: 1 binary row → 4 typed chunk rows per doc.
    The oracle replays numpy's array_split partitioning (first l%n chunks
    one byte longer) and the per-chunk mean in SQL — integer byte sums are
    exact in float64 on both engines, so the check is bit-stable."""
    docs = table(spark, sf_dir, "documents")
    chunks = sample_chunks(to_binary_docs(docs, "text", "doc_id"), n_chunks=4)
    return chunks.select(
        "doc_id", "chunk_id", "chunk_bytes",
        stable_round(F.col("energy"), 6).alias("energy"),
    )


_DECODE_IMAGE_ORACLE = """
WITH g AS (
  SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h FROM documents
),
px AS (
  SELECT doc_id, w, h, unnest(range(0, w * h)) AS k FROM g
)
SELECT doc_id,
  CAST(w AS INT) AS width,
  CAST(h AS INT) AS height,
  CAST(3 AS INT) AS channels,
  CAST(SUM((doc_id * 7  + 3  * k) % 256) AS BIGINT) AS r_sum,
  CAST(SUM((doc_id * 13 + 5  * k) % 256) AS BIGINT) AS g_sum,
  CAST(SUM((doc_id * 31 + 11 * k) % 256) AS BIGINT) AS b_sum,
  CAST(SUM(k * ((doc_id * 7  + 3  * k) % 256
              + (doc_id * 13 + 5  * k) % 256
              + (doc_id * 31 + 11 * k) % 256)) AS BIGINT) AS pos_checksum
FROM px
GROUP BY doc_id, w, h
"""


@query("multimodal_decode_image_stats", _DECODE_IMAGE_ORACLE)
def multimodal_decode_image_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode, end to end: per doc_id a deterministic 24-bit BMP
    is built (``synthetic_bmp_images`` — closed-form pixel channels), then
    ``decode_image`` parses the actual BMP byte format (header, 4-byte row
    stride padding, bottom-up row order, BGR sample order) back to RGB, and
    ``decoded_channel_stats`` reduces the pixels to per-channel sums. The
    oracle computes those sums straight from the generating formula —
    decoder bugs (stride, row flip, channel swap) shift the sums and fail
    the hash. Three chained mapInPandas stages, zero shuffles."""
    from databricks_etl_pipelines_spark.operators.multimodal import (
        decode_image,
        decoded_channel_stats,
        synthetic_bmp_images,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id")
    bmps = synthetic_bmp_images(docs)
    return decoded_channel_stats(decode_image(bmps))


# Constraint (both engines): the Spark side hashes raw UTF-8 BYTES while
# this oracle samples CODEPOINTS via regexp_extract_all(text, '.') — '.'
# drops newlines and a multi-byte char is one unit. The two sequences are
# identical exactly for ASCII-and-newline-free text, so BOTH sides filter
# to that domain explicitly (Spark: rlike '^[ -~]*$'; here:
# regexp_matches) instead of silently relying on the testdata being
# clean. Real image payloads are raw bytes, not text — the text-domain
# restriction exists only so the oracle can replay the bytes in SQL.
_PHASH_ORACLE = """
WITH b AS (
  SELECT doc_id, regexp_extract_all(text, '.') AS cs,
         len(regexp_extract_all(text, '.')) AS L
  FROM documents
  WHERE len(text) >= 1 AND regexp_matches(text, '^[ -~]*$')
),
s AS (
  SELECT doc_id,
    list_transform(range(0, 64),
      i -> ord(cs[CAST(i * L // 64 AS INT) + 1])) AS bytes64
  FROM b
),
bits AS (
  SELECT doc_id,
    list_transform(bytes64, x -> CASE WHEN x * 64 >
      list_reduce(bytes64, (a, c) -> a + c) THEN 1 ELSE 0 END) AS bv
  FROM s
),
bands AS (
  SELECT doc_id, bv, k,
    list_reduce(list_transform(range(1, 17),
      j -> bv[CAST(k * 16 + j AS INT)]), (a, c) -> a * 2 + c) AS band_val
  FROM bits, (SELECT unnest(range(0, 4)) AS k)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
  FROM bands a JOIN bands c
    ON a.k = c.k AND a.band_val = c.band_val AND a.doc_id < c.doc_id
)
SELECT cand.doc_a, cand.doc_b,
  CAST(len(list_filter(range(1, 65),
    i -> x.bv[CAST(i AS INT)] <> y.bv[CAST(i AS INT)])) AS BIGINT)
    AS hamming
FROM cand JOIN bits x ON x.doc_id = cand.doc_a
          JOIN bits y ON y.doc_id = cand.doc_b
WHERE len(list_filter(range(1, 65),
    i -> x.bv[CAST(i AS INT)] <> y.bv[CAST(i AS INT)])) <= 8
"""


@query("multimodal_phash_neardup", _PHASH_ORACLE)
def multimodal_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate detection over BINARY payloads —
    the image-dedup counterpart of the MinHash text family: aHash
    fingerprints (64 strided byte samples, exact-integer mean threshold,
    4×16-bit band words) via Arrow mapInPandas
    (operators/multimodal.py::ahash_features), then Hamming-LSH banding
    (band equality as the probe key) and an exact XOR+popcount distance
    filter at ≤ 8 of 64 bits (operators/multimodal.py::
    ahash_neardup_pairs). With a real codec the payload would be the
    decoded grayscale grid; every stage after the bytes — sampling,
    thresholding, packing, banding, distance — is identical, and the
    oracle replays all of them bit-for-bit from the characters.

    Domain constraint (enforced, not assumed): the payload here is the
    document's UTF-8 bytes, but the SQL oracle can only sample
    CODEPOINTS — identical sequences iff the text is ASCII and
    newline-free, so both sides filter to '^[ -~]*$' explicitly. A doc
    outside that domain drops out of the comparison on BOTH engines
    rather than silently diverging.

    Scale shape: fingerprints are one mapInPandas scan; candidates come
    from a 4-row-per-doc band shuffle, never an all-pairs comparison —
    the same never-O(n²) discipline as dedup_minhash_lsh_pairs. 204
    pairs at sf0.1, 3 at sf0.01 — sensitive to any bit-packing or
    banding drift."""
    from databricks_etl_pipelines_spark.operators.multimodal import (
        ahash_features,
        ahash_neardup_pairs,
    )

    docs = table(spark, sf_dir, "documents").filter(
        # \A..\z, not ^..$: Java's $ matches BEFORE a final line
        # terminator, so 'abc\n' would pass here yet fail the oracle's
        # RE2 $ (end-of-text) — the exact engine divergence this filter
        # exists to prevent
        (F.length("text") >= 1) & F.col("text").rlike(r"\A[ -~]*\z")
    )
    feats = ahash_features(to_binary_docs(docs, "text", "doc_id"))
    return ahash_neardup_pairs(feats, max_hamming=8)


# -- corpus mixing: deterministic stratified sample + per-stratum quota -------

_SAMPLE_FRACTIONS = {"en": 0.5, "de": 0.8, "zh": 0.25}

_STRATIFIED_ORACLE = """
WITH s AS (
  SELECT doc_id, lang, source,
    list_reduce(
      list_prepend(CAST(0 AS BIGINT),
        list_transform(
          regexp_extract_all(md5(CAST(doc_id AS VARCHAR) || ':42'), '.'),
          c -> CAST(ord(c) AS BIGINT))),
      (acc, c) -> (acc * 257 + c) % 2147483647
    ) % 1000000 AS bkt
  FROM documents
)
SELECT doc_id, lang, source
FROM s
WHERE bkt < CASE lang WHEN 'en' THEN 500000 WHEN 'de' THEN 800000
                      WHEN 'zh' THEN 250000 ELSE 0 END * 1.0
"""


@query("curation_stratified_sample", _STRATIFIED_ORACLE)
def curation_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-mixing downsample with per-language fractions. Membership is
    a pure function of (doc_id, seed) via the cross-engine md5+rolling-hash
    bucket, so the oracle reproduces the EXACT kept set — not just counts."""
    from databricks_etl_pipelines_spark.operators.curation import (
        stratified_sample,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return stratified_sample(docs, "lang", _SAMPLE_FRACTIONS, "doc_id", seed=42)


_QUOTA_ORACLE = f"""
WITH q AS (
  SELECT
    doc_id, lang,
    {_SQL_QUALITY_SCORE} AS quality
  FROM documents
),
r AS (
  SELECT doc_id, lang, quality,
    row_number() OVER (PARTITION BY lang ORDER BY quality DESC, doc_id) AS rn
  FROM q
)
SELECT doc_id, lang, CAST(quality AS INT) AS quality FROM r WHERE rn <= 40
"""


@query(
    "curation_quota_per_language",
    _QUOTA_ORACLE,
)
def curation_quota_per_language(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Best 40 docs per language by quality score' — the per-stratum quota
    selection step of corpus assembly (one window shuffle on lang)."""
    from databricks_etl_pipelines_spark.operators.curation import (
        quality_score,
        quota_by_quality,
    )

    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        quality_score("text").cast("int").alias("quality"),
    )
    return quota_by_quality(docs, "lang", "quality", 40, "doc_id")


@query("curation_funnel_report")
def curation_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation attrition funnel (rows-only: the near-dup
    stage is hash-seeded; stage semantics unit-tested in test_curation;
    the crossengine variant below carries the hard oracle)."""
    from databricks_etl_pipelines_spark.operators.curation import curate_corpus

    docs = table(spark, sf_dir, "documents")
    _, report = curate_corpus(docs)
    return report


def _funnel_xengine_oracle() -> str:
    """The ENTIRE curation funnel replayed in SQL: rubric quality gate →
    language-ID gate → exact dedup on normalized-text hash → one-pass
    near-dedup over cross-engine banded MinHash pairs. Every stage count
    in the report is recomputed independently by DuckDB."""
    hit_cols = ",\n    ".join(
        f"len(list_filter({_SQL_TOKS}, x -> x IN "
        f"({_sql_in_list(sw)}))) AS hits_{lang}"
        for lang, sw in LANG_STOPWORDS.items()
    )
    langs = list(LANG_STOPWORDS)
    cases = []
    for lang in langs:
        conds = [f"hits_{lang} > 0"] + [
            f"hits_{lang} >= hits_{o}" for o in langs if o != lang
        ]
        cases.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    lang_case = "CASE " + " ".join(cases) + " ELSE 'unknown' END"
    quality_case = (
        "(CASE WHEN n_tokens BETWEEN 10 AND 1000 THEN 30 ELSE 0 END"
        " + CASE WHEN avg_tok_len BETWEEN 3 AND 12 THEN 30 ELSE 0 END"
        " + CASE WHEN stop_ratio > 0.05 THEN 20 ELSE 0 END"
        " + CASE WHEN punct_r < 0.2 AND digit_r < 0.2 THEN 20 ELSE 0 END)"
    )
    return f"""
WITH sc0 AS (
  SELECT doc_id AS id, text,
    len({_SQL_TOKS}) AS n_tokens,
    CAST(list_sum(list_transform({_SQL_TOKS}, x -> length(x))) AS BIGINT)
      / len({_SQL_TOKS}) AS avg_tok_len,
    len(list_filter({_SQL_TOKS}, x -> x IN ({_EN}))) / len({_SQL_TOKS})
      AS stop_ratio,
    (length(text) - length(regexp_replace(text, '[.,;:!?''"()\\[\\]-]', '', 'g')))
      / length(text) AS punct_r,
    (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
      / length(text) AS digit_r,
    {hit_cols}
  FROM documents
),
sc AS (
  SELECT id, text, {quality_case} AS q, {lang_case} AS lang_pred FROM sc0
),
g AS (
  SELECT CAST(count(*) AS BIGINT) AS total,
    CAST(SUM(CASE WHEN q >= 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
    CAST(SUM(CASE WHEN q >= 50 AND lang_pred = 'en' THEN 1 ELSE 0 END)
         AS BIGINT) AS n_lang
  FROM sc
),
lang_ok AS (SELECT id, text FROM sc WHERE q >= 50 AND lang_pred = 'en'),
keepers AS (
  SELECT min(id) AS id FROM lang_ok
  GROUP BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
),
xsrc AS (SELECT l.id, l.text FROM lang_ok l JOIN keepers k ON l.id = k.id),
ne AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM xsrc),
{_minhash_xengine_ctes('xsrc', 0.7)},
dropped AS (
  SELECT CAST(count(DISTINCT id_b) AS BIGINT) AS n_drop FROM mh_pairs
)
SELECT 'input' AS stage, total AS rows_in, total AS rows_out,
  CAST(0 AS BIGINT) AS rows_dropped FROM g
UNION ALL SELECT 'quality_gate', total, n_quality, total - n_quality FROM g
UNION ALL SELECT 'language_gate', n_quality, n_lang, n_quality - n_lang FROM g
UNION ALL SELECT 'exact_dedup', n_lang, n_exact, n_lang - n_exact FROM g, ne
UNION ALL SELECT 'near_dedup', n_exact, n_exact - n_drop, n_drop
  FROM ne, dropped
"""


@query("curation_funnel_crossengine", _funnel_xengine_oracle())
def curation_funnel_crossengine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation funnel under a HARD differential check: identical
    gates and exact-dedup as curation_funnel_report, with the near-dup
    stage swapped to the cross-engine banded MinHash family so DuckDB can
    recompute every stage's attrition count independently."""
    from databricks_etl_pipelines_spark.operators.curation import curate_corpus

    docs = table(spark, sf_dir, "documents")

    def pair_fn(d, t, i, thr):
        return minhash_crossengine_pairs(
            d, t, i, num_perm=16, bands=4, threshold=thr
        )

    _, report = curate_corpus(docs, pair_fn=pair_fn)
    return report


# -- repetition / passage dedup / contamination -------------------------------

_REPETITION_ORACLE = f"""
WITH w AS (
  SELECT doc_id, {_SQL_TOKS} AS ws FROM documents
),
cnt AS (
  SELECT doc_id, word, count(*) AS c
  FROM (SELECT doc_id, unnest(ws) AS word FROM w)
  GROUP BY doc_id, word
),
wc AS (SELECT doc_id, max(c) AS top_cnt FROM cnt GROUP BY doc_id),
b AS (
  SELECT doc_id, ws,
    list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1]) AS bgs
  FROM w
)
SELECT b.doc_id,
  CAST(len(ws) AS INT) AS n_words,
  {sql_stable_round('len(list_distinct(ws)) * 1.0 / len(ws)', 6)}
    AS distinct_word_ratio,
  {sql_stable_round('wc.top_cnt * 1.0 / len(ws)', 6)} AS top_word_ratio,
  {sql_stable_round('1.0 - len(list_distinct(bgs)) * 1.0 / len(bgs)', 6)}
    AS dup_bigram_ratio
FROM b JOIN wc ON b.doc_id = wc.doc_id
"""


@query("text_repetition_signals", _REPETITION_ORACLE)
def text_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality gates (Rae et al. 2021 §A1.1):
    distinct-word ratio, most-frequent-word mass, duplicated-bigram mass.
    Array-local signals come from higher-order functions fused into the
    scan (no shuffle); only the top-word count needs a (doc_id, word)
    hash aggregate, which partial-aggregates map-side before one shuffle."""
    from databricks_etl_pipelines_spark.functions.textfns import (
        tokens,
        word_shingles,
    )

    docs = table(spark, sf_dir, "documents")
    base = (
        docs.select(
            "doc_id",
            tokens("text").alias("ws"),
            word_shingles("text", 2).alias("bgs"),
        )
        .withColumn("n_words", F.size("ws"))
    )
    wc = (
        base.select("doc_id", F.explode("ws").alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_cnt"))
    )
    return base.join(wc, "doc_id").select(
        "doc_id",
        F.col("n_words").cast("int").alias("n_words"),
        stable_round(
            F.size(F.array_distinct("ws")) / F.col("n_words"), 6
        ).alias("distinct_word_ratio"),
        stable_round(F.col("top_cnt") / F.col("n_words"), 6).alias(
            "top_word_ratio"
        ),
        stable_round(
            F.lit(1.0) - F.size(F.array_distinct("bgs")) / F.size("bgs"), 6
        ).alias("dup_bigram_ratio"),
    )


_PASSAGE_SIZE = 8

_PASSAGE_ORACLE = f"""
WITH w AS (
  SELECT doc_id, {_SQL_TOKS} AS ws FROM documents
),
p AS (
  SELECT doc_id,
    unnest(list_transform(
      range(0, CAST(ceil(len(ws) / {_PASSAGE_SIZE}.0) AS INT)),
      k -> array_to_string(
        ws[k*{_PASSAGE_SIZE}+1 : k*{_PASSAGE_SIZE}+{_PASSAGE_SIZE}], ' ')
    )) AS passage
  FROM w
),
d AS (
  SELECT passage FROM p GROUP BY passage
  HAVING count(DISTINCT doc_id) >= 2
)
SELECT p.doc_id,
  CAST(count(*) AS BIGINT) AS n_passages,
  CAST(count(d.passage) AS BIGINT) AS n_dup_passages,
  {sql_stable_round('count(d.passage) * 1.0 / count(*)', 6)}
    AS dup_passage_ratio
FROM p LEFT JOIN d ON p.passage = d.passage
GROUP BY p.doc_id
"""


@query("dedup_passages", _PASSAGE_ORACLE)
def dedup_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document (passage-level) exact dedup: split every document into
    non-overlapping 8-word chunks, hash each, and report per document how
    many of its passages also occur in at least one OTHER document.
    Boilerplate detection that document-level hashing cannot see.

    Scale shape: one hash aggregate over md5(passage) (16-byte shuffle
    key, map-side partial agg) builds the cross-document duplicate set;
    one equi-join on the same key attributes it back to documents. No
    all-pairs step anywhere."""
    from databricks_etl_pipelines_spark.functions.textfns import word_passages

    docs = table(spark, sf_dir, "documents")
    pas = docs.select(
        "doc_id",
        F.explode(word_passages("text", _PASSAGE_SIZE)).alias("passage"),
    ).withColumn("h", F.md5("passage"))
    dup = (
        pas.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h", F.lit(1).alias("is_dup"))
    )
    return (
        pas.join(dup, "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_passages"),
            F.count("is_dup").alias("n_dup_passages"),
        )
        .select(
            "doc_id",
            "n_passages",
            "n_dup_passages",
            stable_round(
                F.col("n_dup_passages") / F.col("n_passages"), 6
            ).alias("dup_passage_ratio"),
        )
    )


# -- boilerplate passage removal (CCNet-style rewrite) ------------------------

_BOILER_DF = 2

_BOILER_ORACLE = f"""
WITH w AS (
  SELECT doc_id, {_SQL_TOKS} AS ws FROM documents
),
p AS (
  SELECT doc_id, k AS pos,
    array_to_string(ws[k*{_PASSAGE_SIZE}+1 : k*{_PASSAGE_SIZE}+{_PASSAGE_SIZE}], ' ')
      AS passage
  FROM w, LATERAL unnest(
    generate_series(0, CAST(ceil(len(ws) / {_PASSAGE_SIZE}.0) AS INT) - 1)
  ) AS t(k)
  WHERE len(ws) > 0
),
boiler AS (
  SELECT passage FROM p GROUP BY passage
  HAVING count(DISTINCT doc_id) >= {_BOILER_DF}
)
SELECT p.doc_id,
  CAST(count(*) AS BIGINT) AS n_passages,
  CAST(count(b.passage) AS BIGINT) AS n_dropped,
  coalesce(string_agg(
    CASE WHEN b.passage IS NULL THEN p.passage END, ' ' ORDER BY p.pos
  ), '') AS clean_text
FROM p LEFT JOIN boiler b ON p.passage = b.passage
GROUP BY p.doc_id
"""


@query("curation_remove_boilerplate", _BOILER_ORACLE)
def curation_remove_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate passage REMOVAL (operators/curation.py::
    remove_boilerplate_passages) — where ``dedup_passages`` reports
    cross-document passage duplication, this is the CCNet/C4-style
    rewrite stage that actually CUTS the repeated passages and ships
    the reassembled document. The compared columns include the full
    cleaned TEXT of every document, so the order-preserving reassembly
    (posexplode → NULL-marked drop → array_sort(collect_list) →
    array_join) is value-checked character for character, not just the
    counts. Registered at the corpus-df≥2 threshold so both dropped and
    kept passages carry oracle weight at sf0.01."""
    from databricks_etl_pipelines_spark.operators.curation import (
        remove_boilerplate_passages,
    )

    docs = table(spark, sf_dir, "documents")
    out = remove_boilerplate_passages(
        docs, "text", "doc_id",
        passage_size=_PASSAGE_SIZE, max_doc_frequency=_BOILER_DF,
    )
    return out.select(
        F.col("id").alias("doc_id"), "n_passages", "n_dropped", "clean_text"
    )


_CONTAM_K = 4

_CONTAM_ORACLE = f"""
WITH w AS (
  SELECT doc_id, {_SQL_TOKS} AS ws FROM documents
),
g AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(ws) >= {_CONTAM_K} THEN
      list_transform(range(1, len(ws) - {_CONTAM_K - 2}),
        i -> array_to_string(ws[i:i+{_CONTAM_K - 1}], ' '))
    ELSE [array_to_string(ws, ' ')] END)) AS gram
  FROM w
),
b AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0)
SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_hit_grams
FROM g c JOIN b USING (gram)
WHERE c.doc_id % 50 != 0
GROUP BY c.doc_id
"""


@query("curation_contamination_ngram", _CONTAM_ORACLE)
def curation_contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan (the GPT-3 appendix-C n-gram overlap
    check, Brown et al. 2020): flag training documents sharing any word
    4-gram with a held-out benchmark set (here: doc_id % 50 == 0 stands in
    for the benchmark corpus). Returns (doc_id, n_hit_grams) per
    contaminated document.

    Scale shape: the benchmark gram set is tiny by construction, so it
    broadcasts — the corpus side streams through a broadcast hash join
    with no shuffle, then one partial-aggregated count per doc."""
    from databricks_etl_pipelines_spark.functions.textfns import (
        distinct_shingles,
    )

    docs = table(spark, sf_dir, "documents")
    grams = docs.select(
        "doc_id",
        F.explode(distinct_shingles("text", _CONTAM_K)).alias("gram"),
    )
    bench = (
        grams.filter(F.col("doc_id") % 50 == 0).select("gram").distinct()
    )
    return (
        grams.filter(F.col("doc_id") % 50 != 0)
        .join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hit_grams"))
    )


_SURPRISAL_ORACLE = f"""
WITH w AS (
  SELECT doc_id, unnest({_SQL_TOKS}) AS word FROM documents
),
f AS (SELECT word, count(*) AS c FROM w GROUP BY word),
t AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM f)
SELECT doc_id,
  {sql_stable_round('avg(-ln(c * 1.0 / total))', 6)} AS avg_surprisal,
  {sql_stable_round('max(-ln(c * 1.0 / total))', 6)} AS max_surprisal
FROM w JOIN f USING (word) CROSS JOIN t
GROUP BY doc_id
"""


@query("text_lm_surprisal", _SURPRISAL_ORACLE)
def text_lm_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM surprisal scoring (the CCNet-style perplexity gate,
    Wenzek et al. 2020, with the LM trained on the corpus itself): per
    document, mean and max of -ln p(word). Low mean = templated/common
    text; high max = contains corpus-rare tokens.

    Scale shape: the unigram table is one hash aggregate on word; the
    per-doc score is an equi-join back on word (AQE broadcasts it while
    the vocabulary is small, falls back to a shuffle join when it is not)
    plus one partial-aggregated per-doc fold. The 1-row total joins in as
    a broadcast nested loop."""
    from databricks_etl_pipelines_spark.functions.textfns import tokens

    docs = table(spark, sf_dir, "documents")
    words = docs.select("doc_id", F.explode(tokens("text")).alias("word"))
    freq = words.groupBy("word").agg(F.count("*").alias("c"))
    total = freq.agg(F.sum("c").alias("total"))
    surprisal = -F.log(F.col("c") / F.col("total"))
    return (
        words.join(freq, "word")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            stable_round(F.avg(surprisal), 6).alias("avg_surprisal"),
            stable_round(F.max(surprisal), 6).alias("max_surprisal"),
        )
    )


# Unigram-LM Viterbi segmentation, fully SQL-replayed: the piece
# inventory (all substrings of the capped dictionary), the vocabulary
# cut (all single chars + top multi-char by count), the integer-lattice
# log scores, the DP itself (a recursive CTE stepping one character per
# iteration carrying dp/backpointer LISTS), and the backtrack (a second
# recursive CTE walking the pointers) — so the maximum-likelihood split
# of every word is differentially checked, not just its statistics.
_UNIGRAM_P = 6
_UNIGRAM_VMULTI = 48


def _unigram_oracle(P: int = _UNIGRAM_P, V: int = _UNIGRAM_VMULTI) -> str:
    """The Viterbi DP replayed with SCALAR recursion state: a P-slot
    sliding window of dp values (p1 = dp[j], …, pP = dp[j-P+1]) and the
    forward-built segmentation strings for the same positions. A first
    draft carried dp/backpointer LISTS through the recursion; DuckDB
    1.0's recursive executor intermittently corrupts nested-list state
    across vector boundaries once many rows iterate together (verified:
    single-word recursion exact, all-words recursion nondeterministic
    run to run with IDENTICAL stable inputs) — scalar columns sidestep
    the bug and are also the plain-SQL-92 shape. Candidates at position
    j+1 are the P suffix pieces, each a LEFT JOIN against the score
    table; NULL (invalid start / out-of-vocab) candidates fall out of
    greatest(), and the CASE picks the smallest piece length on ties —
    the same larger-split-point rule as the Python argmax. The DP block
    itself is emitted by :func:`_viterbi_tail_sql` (shared with the EM
    oracle)."""
    return f"""
WITH RECURSIVE words AS (
  SELECT unnest({_SQL_TOKS}) AS word FROM documents
),
wf AS (
  SELECT word AS w, CAST(count(*) AS BIGINT) AS freq FROM words
  GROUP BY word ORDER BY freq DESC, w LIMIT 10000
),
cand0 AS (
  SELECT w, freq,
    unnest(flatten(list_transform(range(1, length(w) + 1), i ->
      list_transform(range(1, least({P}, length(w) - i + 1) + 1),
                     l -> struct_pack(i := i, l := l))))) AS il
  FROM wf
),
c2 AS (
  SELECT w, freq,
    substring(w, CAST(il.i AS INT), CAST(il.l AS INT)) AS piece
  FROM cand0
),
pc AS (
  SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM c2 GROUP BY piece
),
vocab AS (
  SELECT piece, cnt FROM pc WHERE length(piece) = 1
  UNION ALL
  SELECT piece, cnt FROM (
    SELECT piece, cnt FROM pc WHERE length(piece) >= 2
    ORDER BY cnt DESC, piece LIMIT {V}
  )
),
tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM vocab),
sc AS (
  SELECT piece,
    CAST(floor(ln(CAST(cnt AS DOUBLE) / total) * 4096) AS BIGINT) AS s
  FROM vocab CROSS JOIN tot
),
wl AS (SELECT w, freq, length(w) AS L FROM wf),
{_viterbi_tail_sql(P)}
"""


def _viterbi_start(l: int) -> str:
    """1-based start of the length-l candidate piece ending at j+1."""
    return "r.j + 1" if l == 1 else f"r.j - {l - 2}"


def _viterbi_tail_sql(P: int, sc: str = "sc") -> str:
    """The Viterbi recursion + seg CTE block (see _unigram_oracle's
    docstring for the scalar-state design); parametrized on the score
    table name so the EM oracle can point it at the trained scores."""
    joins = "\n".join(
        f"    LEFT JOIN {sc} s{l} ON r.j >= {l - 1}"
        f" AND s{l}.piece = substring(r.w, {_viterbi_start(l)}, {l})"
        for l in range(1, P + 1)
    )
    vals = ",\n".join(
        f"      r.p{l} + s{l}.s AS v{l}" for l in range(1, P + 1)
    )
    segs = ",\n".join(
        f"      (CASE WHEN r.g{l} = '' THEN '' ELSE r.g{l} || ' ' END)"
        f" || substring(r.w, {_viterbi_start(l)}, {l}) AS seg{l}"
        for l in range(1, P + 1)
    )
    vlist = ", ".join(f"v{l}" for l in range(1, P + 1))
    pick = "\n".join(
        f"      WHEN v{l} = greatest({vlist}) THEN seg{l}"
        for l in range(1, P + 1)
    )
    base_p = ",\n".join(
        ["    CAST(0 AS BIGINT) AS p1"]
        + [f"    CAST(NULL AS BIGINT) AS p{l}" for l in range(2, P + 1)]
    )
    base_g = ",\n".join(
        ["    CAST('' AS VARCHAR) AS g1"]
        + [f"    CAST(NULL AS VARCHAR) AS g{l}" for l in range(2, P + 1)]
    )
    shift_p = ", ".join(f"p{l}" for l in range(1, P))
    shift_g = ", ".join(f"g{l}" for l in range(1, P))
    carry_p = ",\n".join(f"      r.p{l} AS p{l}" for l in range(1, P))
    carry_g = ",\n".join(f"      r.g{l} AS g{l}" for l in range(1, P))
    return f"""rec AS (
  SELECT w, freq, L, 0 AS j,
{base_p},
{base_g}
  FROM wl
  UNION ALL
  SELECT w, freq, L, j,
    greatest({vlist}) AS p1, {shift_p},
    CASE
{pick}
    END AS g1, {shift_g}
  FROM (
    SELECT r.w AS w, r.freq AS freq, r.L AS L, r.j + 1 AS j,
{carry_p},
{carry_g},
{vals},
{segs}
    FROM rec r
{joins}
    WHERE r.j < r.L
  )
)
, seg AS (
  SELECT w AS word, freq,
    CAST(CASE WHEN g1 = '' THEN 0
         ELSE len(string_split(g1, ' ')) END AS INT) AS n_pieces,
    g1 AS pieces, CAST(p1 AS BIGINT) AS score
  FROM rec WHERE j = L
)"""


_UNIGRAM_SEGMENT_ORACLE = (
    _unigram_oracle() + "SELECT word, freq, n_pieces, pieces, score FROM seg"
)

_UNIGRAM_EM_ITERS = 2
_UNIGRAM_EM_SCALE = 1 << 24
_UNIGRAM_MAXLEN = 16


def _em_iteration_sql(t: int, P: int, S: int, prev: str,
                      prune: int = 0) -> str:
    """One EM iteration as CTEs: forward/backward sum-product recursions
    (scalar sliding-window state — the list-corruption workaround), the
    occurrence-posterior expected counts quantized to the 2^-24 integer
    lattice, add-one smoothing, and the renormalized p{t} table. Float
    fold order is pinned DESCENDING piece length with +0.0 for invalid
    candidates — x + 0.0 is exact for the non-negative values here, so
    the SQL sum chain equals the Python loop term for term. With
    ``prune`` > 0, Kudo's vocabulary shrink follows the M-step: the
    prune smallest-(p, piece) MULTI-char pieces drop (single chars
    protected) and survivors renormalize by a PIECE-ORDERED fold."""
    dbl0 = "CAST(0.0 AS DOUBLE)"
    # forward: window a{l} = a[j+1-l]; candidates end at j+1
    fjoins = "\n".join(
        f"    LEFT JOIN {prev} s{l} ON r.j >= {l - 1}"
        f" AND s{l}.piece = substring(r.w, {_viterbi_start(l)}, {l})"
        for l in range(1, P + 1)
    )
    fsum = " + ".join(
        f"coalesce(r.a{l} * s{l}.p, {dbl0})" for l in range(P, 0, -1)
    )
    fshift = ", ".join(f"r.a{l}" for l in range(1, P))
    fbase = ", ".join(
        ["CAST(1.0 AS DOUBLE) AS a1"]
        + [f"CAST(NULL AS DOUBLE) AS a{l}" for l in range(2, P + 1)]
    )
    # backward: window b{l} = b[j+l-1]; candidates start at char j
    bjoins = "\n".join(
        f"    LEFT JOIN {prev} s{l}"
        f" ON s{l}.piece = substring(r.w, CAST(r.j AS INT), {l})"
        for l in range(1, P + 1)
    )
    bsum = " + ".join(
        f"coalesce(s{l}.p * r.b{l}, {dbl0})" for l in range(P, 0, -1)
    )
    bshift = ", ".join(f"r.b{l}" for l in range(1, P))
    bbase = ", ".join(
        ["CAST(1.0 AS DOUBLE) AS b1"]
        + [f"CAST(NULL AS DOUBLE) AS b{l}" for l in range(2, P + 1)]
    )
    body = f"""fwd{t} AS (
  SELECT w, L, 0 AS j, {fbase}
  FROM wl
  UNION ALL
  SELECT r.w, r.L, r.j + 1, ({fsum}) AS a1, {fshift}
  FROM fwd{t} r
{fjoins}
  WHERE r.j < r.L
),
bwd{t} AS (
  SELECT w, L, L AS j, {bbase}
  FROM wl
  UNION ALL
  SELECT r.w, r.L, r.j - 1, ({bsum}) AS b1, {bshift}
  FROM bwd{t} r
{bjoins}
  WHERE r.j > 0
),
z{t} AS (SELECT w, a1 AS z FROM fwd{t} WHERE j = L),
occq{t} AS (
  SELECT oc.piece,
    CAST(floor(((((fa.a1 * sp.p) * fb.b1) / z.z)
                 * CAST(oc.freq AS DOUBLE)) * CAST({S} AS DOUBLE)
               + CAST(0.5 AS DOUBLE)) AS BIGINT) AS qc
  FROM oc
  JOIN {prev} sp USING (piece)
  JOIN fwd{t} fa ON fa.w = oc.w AND fa.j = oc.i - 1
  JOIN bwd{t} fb ON fb.w = oc.w AND fb.j = oc.i + oc.l - 1
  JOIN z{t} z ON z.w = oc.w
),
qc{t} AS (
  SELECT v.piece, 1 + coalesce(CAST(sum(o.qc) AS BIGINT), 0) AS qc
  FROM (SELECT piece FROM {prev}) v LEFT JOIN occq{t} o USING (piece)
  GROUP BY v.piece
),
qt{t} AS (SELECT CAST(sum(qc) AS BIGINT) AS qt FROM qc{t}),
p{t} AS MATERIALIZED (
  SELECT piece, CAST(qc AS DOUBLE) / qt AS p FROM qc{t} CROSS JOIN qt{t}
)"""
    if prune > 0:
        body += f""",
pr{t} AS (
  SELECT piece, p FROM p{t}
  WHERE length(piece) = 1
     OR piece NOT IN (
          SELECT piece FROM p{t} WHERE length(piece) >= 2
          ORDER BY p ASC, piece ASC LIMIT {prune})
),
nr{t} AS (
  SELECT list_reduce(
    list_prepend(CAST(0.0 AS DOUBLE), array_agg(p ORDER BY piece)),
    (a, b) -> a + b) AS s
  FROM pr{t}
),
pp{t} AS MATERIALIZED (
  SELECT piece, p / s AS p FROM pr{t} CROSS JOIN nr{t}
)"""
    return body


def _unigram_em_oracle(
    P: int = _UNIGRAM_P,
    V: int = _UNIGRAM_VMULTI,
    T: int = _UNIGRAM_EM_ITERS,
    S: int = _UNIGRAM_EM_SCALE,
    maxlen: int = _UNIGRAM_MAXLEN,
    prune: int = 0,
) -> str:
    """Full Kudo-2018 EM replay: init probabilities from the frequency
    cut, T unrolled EM iterations (each a forward recursion, a backward
    recursion, an integer-lattice expected-count aggregate and a
    renormalization), then the Viterbi tail under the TRAINED scores."""
    def out_tab(t: int) -> str:
        return f"pp{t}" if prune > 0 else f"p{t}"

    iters = ",\n".join(
        _em_iteration_sql(
            t, P, S, "p0" if t == 1 else out_tab(t - 1), prune
        )
        for t in range(1, T + 1)
    )
    return f"""
WITH RECURSIVE words AS (
  SELECT unnest({_SQL_TOKS}) AS word FROM documents
),
wf AS (
  SELECT word AS w, CAST(count(*) AS BIGINT) AS freq FROM words
  GROUP BY word ORDER BY freq DESC, w LIMIT 10000
),
wfl AS MATERIALIZED (SELECT w, freq FROM wf WHERE length(w) <= {maxlen}),
cand0 AS (
  SELECT w, freq,
    unnest(flatten(list_transform(range(1, length(w) + 1), i ->
      list_transform(range(1, least({P}, length(w) - i + 1) + 1),
                     l -> struct_pack(i := i, l := l))))) AS il
  FROM wfl
),
oc AS MATERIALIZED (
  SELECT w, freq, CAST(il.i AS INT) AS i, CAST(il.l AS INT) AS l,
    substring(w, CAST(il.i AS INT), CAST(il.l AS INT)) AS piece
  FROM cand0
),
pc AS (
  SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM oc GROUP BY piece
),
vocab AS MATERIALIZED (
  SELECT piece, cnt FROM pc WHERE length(piece) = 1
  UNION ALL
  SELECT piece, cnt FROM (
    SELECT piece, cnt FROM pc WHERE length(piece) >= 2
    ORDER BY cnt DESC, piece LIMIT {V}
  )
),
tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM vocab),
p0 AS MATERIALIZED (
  SELECT piece, CAST(cnt AS DOUBLE) / total AS p FROM vocab CROSS JOIN tot
),
wl AS MATERIALIZED (SELECT w, freq, length(w) AS L FROM wfl),
{iters},
sc AS MATERIALIZED (
  SELECT piece, CAST(floor(ln(p) * 4096) AS BIGINT) AS s FROM {out_tab(T)}
),
{_viterbi_tail_sql(P)}
SELECT word, freq, n_pieces, pieces, score FROM seg
"""


@query("text_unigram_em_segment", _unigram_em_oracle())
def text_unigram_em_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL SentencePiece pipeline under a hard oracle: Kudo-2018 EM
    TRAINING of the unigram piece model (2 iterations of per-word
    forward/backward sum-product, expected counts on the 2^-24 integer
    lattice so the cross-word float sum commutes, add-one smoothing,
    exact-integer renormalization) followed by Viterbi decode under the
    trained probabilities. The oracle replays the entire trajectory —
    init, both EM iterations (as scalar-window recursive CTEs per
    direction), and the final segmentation. The E-step runs distributed
    (Arrow mapInPandas over the dictionary, per-word lattices are
    independent; vocabulary-sized collect per iteration — the k-means /
    BPE bounded-collect pattern); see operators/unigram.py::
    em_probabilities for the engine-exactness recipe."""
    from databricks_etl_pipelines_spark.operators.bpe import word_frequencies
    from databricks_etl_pipelines_spark.operators.unigram import (
        em_segment_dictionary,
    )

    docs = table(spark, sf_dir, "documents")
    words = word_frequencies(docs, "text", max_words=10_000)
    return em_segment_dictionary(
        words,
        max_piece_len=_UNIGRAM_P,
        vocab_multi=_UNIGRAM_VMULTI,
        iters=_UNIGRAM_EM_ITERS,
        max_word_len=_UNIGRAM_MAXLEN,
    )


# Doc-level tokenizer eval: fertility (pieces per word) and total piece
# mass per document, by joining the dictionary segmentation back onto
# the corpus — the dictionary side is bounded, so the join broadcasts.
_UNIGRAM_DOC_ORACLE = _unigram_oracle() + f"""
, dw AS (
  SELECT doc_id, lang, unnest({_SQL_TOKS}) AS word FROM documents
)
SELECT dw.doc_id, dw.lang,
  CAST(count(*) AS BIGINT) AS n_tokens,
  CAST(sum(seg.n_pieces) AS BIGINT) AS n_pieces,
  CAST(sum(seg.score) AS BIGINT) AS q_score,
  {sql_stable_round('CAST(sum(seg.n_pieces) AS BIGINT) * 1.0 '
                    '/ CAST(count(*) AS BIGINT)', 6)} AS fertility
FROM dw JOIN seg USING (word)
GROUP BY dw.doc_id, dw.lang
"""


@query("text_unigram_doc_stats", _UNIGRAM_DOC_ORACLE)
def text_unigram_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document tokenizer eval under the unigram segmenter: token
    count, total subword pieces, total lattice score, and FERTILITY
    (pieces per word — the standard multilingual tokenizer-quality
    metric). Scale shape: the corpus side is one explode + one hash
    aggregate; the segmentation side is dictionary-sized and broadcasts
    into the join (documented coverage = the capped dictionary, the
    trainer's own coverage). The oracle replays segmentation AND the
    doc rollup."""
    from databricks_etl_pipelines_spark.functions.textfns import tokens
    from databricks_etl_pipelines_spark.operators.bpe import word_frequencies
    from databricks_etl_pipelines_spark.operators.unigram import (
        segment_dictionary,
    )

    docs = table(spark, sf_dir, "documents")
    words = word_frequencies(docs, "text", max_words=10_000)
    seg = segment_dictionary(
        words, max_piece_len=_UNIGRAM_P, vocab_multi=_UNIGRAM_VMULTI
    ).select(F.col("word").alias("__w"), "n_pieces", "score")
    dw = docs.select(
        "doc_id", "lang", F.explode(tokens("text")).alias("__w")
    )
    return (
        dw.join(F.broadcast(seg), "__w")
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("n_pieces").alias("n_pieces"),
            F.sum("score").alias("q_score"),
        )
        .select(
            "doc_id", "lang", "n_tokens", "n_pieces", "q_score",
            stable_round(
                F.col("n_pieces") * 1.0 / F.col("n_tokens"), 6
            ).alias("fertility"),
        )
    )


@query("text_unigram_segment", _UNIGRAM_SEGMENT_ORACLE)
def text_unigram_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM subword segmentation (the SentencePiece decode side,
    frequency-scored): every dictionary word Viterbi-split under an
    integer-lattice piece score, with the WHOLE pipeline — piece counts,
    the vocabulary cut, the log-lattice scores, the DP trajectory and
    the backtracked split — replayed in SQL (two chained recursive
    CTEs). Corpus work is one word-count aggregate; everything after is
    dictionary-sized (see operators/unigram.py for the 100 TB shape)."""
    from databricks_etl_pipelines_spark.operators.bpe import word_frequencies
    from databricks_etl_pipelines_spark.operators.unigram import (
        segment_dictionary,
    )

    docs = table(spark, sf_dir, "documents")
    words = word_frequencies(docs, "text", max_words=10_000)
    return segment_dictionary(
        words, max_piece_len=_UNIGRAM_P, vocab_multi=_UNIGRAM_VMULTI
    )


# Bigram-LM surprisal (KenLM-lite, add-k smoothing): the context-aware
# upgrade of the unigram gate — repeated words in NOVEL orders score
# high where the unigram model is blind. Same integer-lattice
# discipline: per-bigram surprisal quantized to 2^-12 nats, INTEGER
# summed per doc (order-independent), one IEEE division at the end.
_BIGRAM_Q_CTES = f"""
WITH t AS (
  SELECT doc_id, {_SQL_TOKS} AS ws FROM documents
),
bg AS (
  SELECT doc_id, u.x.p AS prev, u.x.c AS cur
  FROM (
    SELECT doc_id,
      unnest(list_transform(range(1, len(ws)),
        i -> struct_pack(p := ws[i], c := ws[i + 1]))) AS x
    FROM t WHERE len(ws) >= 2
  ) u(doc_id, x)
),
cb AS (SELECT prev, cur, CAST(count(*) AS BIGINT) AS c2
       FROM bg GROUP BY prev, cur),
cc AS (SELECT prev, CAST(count(*) AS BIGINT) AS c1 FROM bg GROUP BY prev),
v AS (
  SELECT CAST(count(DISTINCT word) AS BIGINT) AS vsz
  FROM (SELECT unnest(ws) AS word FROM t)
),
q AS (
  SELECT bg.doc_id,
    CAST(floor(-ln((cb.c2 + 0.5) / (cc.c1 + 0.5 * v.vsz)) * 4096)
         AS BIGINT) AS qs
  FROM bg JOIN cb USING (prev, cur) JOIN cc USING (prev) CROSS JOIN v
)"""

_BIGRAM_ORACLE = _BIGRAM_Q_CTES + """
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
  CAST(sum(qs) AS BIGINT) AS q_sum,
  CAST(floor(sum(qs) / count(*)) AS BIGINT) AS q_surprisal
FROM q GROUP BY doc_id
"""


@query("text_bigram_surprisal", _BIGRAM_ORACLE)
def text_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM surprisal scoring (the context-aware sibling of
    text_lm_surprisal): mean -ln p(w_i | w_{i-1}) per document under an
    add-0.5-smoothed bigram model trained on the corpus itself —
    word-salad documents that reuse common words in novel orders score
    high where the unigram gate is blind. Integer-lattice per-bigram
    scores summed as BIGINTs keep the doc score visit-order independent
    (the perplexity_buckets discipline; ln's last-ulp engine drift is
    the one documented sensitivity).

    Scale shape: bigrams come from ONE transform over the token array
    (no positional self-join); two hash aggregates build the model; the
    per-doc score is an equi-join back on the bigram plus one aggregate.
    The vocabulary size joins in as a 1-row broadcast."""
    from databricks_etl_pipelines_spark.functions.textfns import tokens

    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens("text").alias("ws"))
    bg = toks.filter(F.size("ws") >= 2).select(
        "doc_id",
        F.explode(
            F.transform(
                # 0-based positions of each bigram's first token
                F.sequence(F.lit(0), F.size("ws") - 2),
                lambda i: F.struct(
                    F.get("ws", i).alias("prev"),
                    F.get("ws", i + 1).alias("cur"),
                ),
            )
        ).alias("x"),
    ).select("doc_id", F.col("x.prev").alias("prev"), F.col("x.cur").alias("cur"))
    cb = bg.groupBy("prev", "cur").agg(F.count("*").alias("c2"))
    cc = bg.groupBy("prev").agg(F.count("*").alias("c1"))
    vsz = (
        docs.select(F.explode(tokens("text")).alias("w"))
        .agg(F.countDistinct("w").alias("vsz"))
    )
    p = (F.col("c2") + 0.5) / (F.col("c1") + 0.5 * F.col("vsz"))
    qs = F.floor(-F.log(p) * 4096).cast("long")
    return (
        bg.join(cb, ["prev", "cur"])
        .join(cc, "prev")
        .crossJoin(F.broadcast(vsz))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum(qs).alias("q_sum"),
        )
        .select(
            "doc_id", "n_bigrams", "q_sum",
            F.floor(F.col("q_sum") / F.col("n_bigrams"))
            .cast("long")
            .alias("q_surprisal"),
        )
    )


# Curriculum ordering: difficulty-ranked docs interleaved across sources
# by ARITHMETIC, not a global sort — the loader-facing total order a
# curriculum-learning run wants (Bengio et al., ICML 2009), computed
# without any corpus-wide window.
_CURRICULUM_ORACLE = _BIGRAM_Q_CTES + """,
diff AS (
  SELECT doc_id,
    CAST(floor(sum(qs) / count(*)) AS BIGINT) AS q_surprisal
  FROM q GROUP BY doc_id
),
srcs AS (
  SELECT source,
    CAST(row_number() OVER (ORDER BY source) - 1 AS BIGINT) AS s_idx,
    CAST(count(*) OVER () AS BIGINT) AS n_sources
  FROM (SELECT DISTINCT source FROM documents)
),
ranked AS (
  SELECT d.doc_id, d.source, f.q_surprisal,
    CAST(row_number() OVER (
      PARTITION BY d.source ORDER BY f.q_surprisal, d.doc_id
    ) AS BIGINT) AS source_rank
  FROM documents d JOIN diff f ON f.doc_id = d.doc_id
)
SELECT r.doc_id, r.source, r.q_surprisal, r.source_rank,
  CAST((r.source_rank - 1) * s.n_sources + s.s_idx + 1 AS BIGINT)
    AS global_pos
FROM ranked r JOIN srcs s ON s.source = r.source
"""


@query("curation_curriculum_interleave", _CURRICULUM_ORACLE)
def curation_curriculum_interleave(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Curriculum data ordering: documents ranked easy→hard per source
    by bigram-LM surprisal (the context-aware difficulty signal —
    text_bigram_surprisal's integer-lattice score), then interleaved
    round-robin across sources into one global loader position. The
    crux at 100 TB: the total order is ARITHMETIC —
    ``global_pos = (source_rank − 1)·n_sources + source_index + 1`` —
    so the only shuffles are the per-source rank windows (partitioned
    by source) and the model aggregates; there is NO corpus-wide sort
    or partitionless window anywhere. Positions are gapped after the
    smallest source exhausts (the loader skips gaps); monotone in
    difficulty within every source, round-robin across sources at every
    depth — the standard balanced-interleave schedule. Docs with < 2
    tokens carry no bigram score and are excluded on both engines."""
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    diff = text_bigram_surprisal(spark, sf_dir).select(
        "doc_id", "q_surprisal"
    )
    srcs_w = Window.orderBy("source")
    # partitionless windows, bounded: DISTINCT source is a handful of
    # rows (corpus sources, not corpus docs) — and BOTH the index and
    # the count come off that ONE distinct relation (a second
    # docs.distinct() branch would re-scan the corpus)
    srcs = (
        docs.select("source")
        .distinct()
        .select(
            "source",
            (F.row_number().over(srcs_w) - 1).cast("bigint").alias(
                "s_idx"
            ),
            F.count("*")
            .over(Window.partitionBy())
            .cast("bigint")
            .alias("n_sources"),
        )
    )
    rank_w = Window.partitionBy("source").orderBy(
        "q_surprisal", "doc_id"
    )
    ranked = (
        docs.select("doc_id", "source")
        .join(diff, "doc_id")
        .withColumn(
            "source_rank", F.row_number().over(rank_w).cast("bigint")
        )
    )
    return ranked.join(F.broadcast(srcs), "source").select(
        "doc_id",
        "source",
        "q_surprisal",
        "source_rank",
        (
            (F.col("source_rank") - 1) * F.col("n_sources")
            + F.col("s_idx")
            + 1
        ).cast("bigint").alias("global_pos"),
    )


_UNIGRAM_EM_PRUNE = 6


@query("text_unigram_em_pruned", _unigram_em_oracle(prune=_UNIGRAM_EM_PRUNE))
def text_unigram_em_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE Kudo-2018 algorithm: EM training WITH vocabulary
    pruning — after each M-step the 6 lowest-probability multi-char
    pieces are dropped (single chars protected: they are the coverage
    guarantee) and the survivors renormalized by a piece-ordered fold,
    so the next E-step's smoothing runs over the shrunken vocabulary
    only. The oracle replays the full shrink trajectory — both EM
    iterations, both prune+renormalize steps, and the Viterbi decode
    under the surviving trained pieces."""
    from databricks_etl_pipelines_spark.operators.bpe import word_frequencies
    from databricks_etl_pipelines_spark.operators.unigram import (
        em_segment_dictionary,
    )

    docs = table(spark, sf_dir, "documents")
    words = word_frequencies(docs, "text", max_words=10_000)
    return em_segment_dictionary(
        words,
        max_piece_len=_UNIGRAM_P,
        vocab_multi=_UNIGRAM_VMULTI,
        iters=_UNIGRAM_EM_ITERS,
        max_word_len=_UNIGRAM_MAXLEN,
        prune_per_iter=_UNIGRAM_EM_PRUNE,
    )


# Bigram perplexity terciles: the bigram LM's per-doc lattice scores
# composed with the same bounded-histogram cutoff machinery as the
# unigram buckets — the context-aware CCNet gradient.
_BIGRAM_BUCKETS_ORACLE = f"""
WITH t AS (
  SELECT doc_id, lang, {_SQL_TOKS} AS ws FROM documents
),
bg AS (
  SELECT doc_id, lang, u.x.p AS prev, u.x.c AS cur
  FROM (
    SELECT doc_id, lang,
      unnest(list_transform(range(1, len(ws)),
        i -> struct_pack(p := ws[i], c := ws[i + 1]))) AS x
    FROM t WHERE len(ws) >= 2
  ) u
),
cb AS (SELECT prev, cur, CAST(count(*) AS BIGINT) AS c2
       FROM bg GROUP BY prev, cur),
cc AS (SELECT prev, CAST(count(*) AS BIGINT) AS c1 FROM bg GROUP BY prev),
v AS (
  SELECT CAST(count(DISTINCT word) AS BIGINT) AS vsz
  FROM (SELECT unnest(ws) AS word FROM t)
),
p AS (
  SELECT bg.doc_id, bg.lang,
    CAST(count(*) AS BIGINT) AS n_bigrams,
    CAST(floor(sum(CAST(floor(-ln((cb.c2 + 0.5) / (cc.c1 + 0.5 * v.vsz))
                              * 4096) AS BIGINT))
               / count(*)) AS BIGINT) AS q_surprisal
  FROM bg JOIN cb USING (prev, cur) JOIN cc USING (prev) CROSS JOIN v
  GROUP BY bg.doc_id, bg.lang
),
h AS (
  SELECT lang, q_surprisal, count(*) AS hc FROM p GROUP BY lang, q_surprisal
),
m AS (
  SELECT lang, q_surprisal,
    sum(hc) OVER (PARTITION BY lang ORDER BY q_surprisal) AS cum,
    sum(hc) OVER (PARTITION BY lang) AS n
  FROM h
),
c AS (
  SELECT lang,
    min(CASE WHEN cum * 3 >= n THEN q_surprisal END) AS c1,
    min(CASE WHEN cum * 3 >= n * 2 THEN q_surprisal END) AS c2
  FROM m GROUP BY lang
)
SELECT p.doc_id, p.lang, p.n_bigrams, p.q_surprisal,
  CASE WHEN p.q_surprisal <= c.c1 THEN 'head'
       WHEN p.q_surprisal <= c.c2 THEN 'middle'
       ELSE 'tail' END AS bucket
FROM p JOIN c USING (lang)
"""


@query("curation_bigram_buckets", _BIGRAM_BUCKETS_ORACLE)
def curation_bigram_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-aware CCNet gradient: per-language head/middle/tail
    terciles over BIGRAM-LM surprisal — word-salad documents sink to
    the tail even when their unigram statistics look fluent. Composes
    text_bigram_surprisal's lattice scores with the perplexity_buckets
    cutoff machinery (bounded-histogram cutoffs, never a per-language
    corpus-sized window); the whole gradient replays in SQL."""
    from databricks_etl_pipelines_spark.functions.textfns import tokens
    from databricks_etl_pipelines_spark.operators.curation import (
        perplexity_cutoffs,
        perplexity_label,
    )

    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", "lang", tokens("text").alias("ws"))
    bg = toks.filter(F.size("ws") >= 2).select(
        "doc_id",
        "lang",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("ws") - 2),
                lambda i: F.struct(
                    F.get("ws", i).alias("prev"),
                    F.get("ws", i + 1).alias("cur"),
                ),
            )
        ).alias("x"),
    ).select(
        "doc_id", "lang",
        F.col("x.prev").alias("prev"), F.col("x.cur").alias("cur"),
    )
    cb = bg.groupBy("prev", "cur").agg(F.count("*").alias("c2"))
    cc = bg.groupBy("prev").agg(F.count("*").alias("c1"))
    vsz = (
        docs.select(F.explode(tokens("text")).alias("w"))
        .agg(F.countDistinct("w").alias("vsz"))
    )
    prob = (F.col("c2") + 0.5) / (F.col("c1") + 0.5 * F.col("vsz"))
    qs = F.floor(-F.log(prob) * 4096).cast("long")
    per_doc = (
        bg.join(cb, ["prev", "cur"])
        .join(cc, "prev")
        .crossJoin(F.broadcast(vsz))
        .groupBy("doc_id", "lang")
        .agg(F.count("*").alias("n_tokens"), F.sum(qs).alias("__qsum"))
        .select(
            "doc_id", "lang", "n_tokens",
            F.floor(F.col("__qsum") / F.col("n_tokens"))
            .cast("bigint")
            .alias("q_surprisal"),
        )
    )
    cuts = perplexity_cutoffs(per_doc, "lang")
    return perplexity_label(per_doc, cuts, "doc_id", "lang").withColumnRenamed(
        "n_tokens", "n_bigrams"
    )


# CCNet head/middle/tail: per-word surprisal quantized to the 2^-12
# lattice and INTEGER-summed per doc (order-independent), cutoffs from a
# cumulative count over the bounded (lang, score) histogram — never a
# corpus-sized per-language window.
_PPL_BUCKETS_ORACLE = f"""
WITH w AS (
  SELECT doc_id, lang, unnest({_SQL_TOKS}) AS word FROM documents
),
f AS (SELECT word, count(*) AS c FROM w GROUP BY word),
t AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM f),
d AS (
  SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_tokens,
    CAST(sum(CAST(floor(-ln(c * 1.0 / total) * 4096) AS BIGINT))
         AS BIGINT) AS qsum
  FROM w JOIN f USING (word) CROSS JOIN t
  GROUP BY doc_id, lang
),
p AS (
  SELECT doc_id, lang, n_tokens,
    CAST(floor(qsum / n_tokens) AS BIGINT) AS q_surprisal
  FROM d
),
h AS (
  SELECT lang, q_surprisal, count(*) AS hc FROM p GROUP BY lang, q_surprisal
),
m AS (
  SELECT lang, q_surprisal,
    sum(hc) OVER (PARTITION BY lang ORDER BY q_surprisal) AS cum,
    sum(hc) OVER (PARTITION BY lang) AS n
  FROM h
),
c AS (
  SELECT lang,
    min(CASE WHEN cum * 3 >= n THEN q_surprisal END) AS c1,
    min(CASE WHEN cum * 3 >= n * 2 THEN q_surprisal END) AS c2
  FROM m GROUP BY lang
)
SELECT p.doc_id, p.lang, p.n_tokens, p.q_surprisal,
  CASE WHEN p.q_surprisal <= c.c1 THEN 'head'
       WHEN p.q_surprisal <= c.c2 THEN 'middle'
       ELSE 'tail' END AS bucket
FROM p JOIN c USING (lang)
"""


@query("curation_perplexity_buckets", _PPL_BUCKETS_ORACLE)
def curation_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): unigram-LM
    surprisal per document, then head/middle/tail terciles PER LANGUAGE
    — the quality gradient CCNet keeps/drops by. The per-doc score is an
    integer-lattice sum (order-independent), and the tercile cutoffs come
    from the bounded (lang, score) histogram, so the whole gradient —
    scores, cutoffs and bucket labels — replays exactly in SQL. See
    operators/curation.py::perplexity_buckets for the 100 TB shape
    argument (no per-language corpus-sized window anywhere)."""
    from databricks_etl_pipelines_spark.operators.curation import (
        perplexity_buckets,
    )

    docs = table(spark, sf_dir, "documents")
    return perplexity_buckets(docs, "text", "doc_id", "lang")


_SHARD_ORACLE = """
WITH s AS (
  SELECT doc_id,
    list_reduce(
      list_prepend(CAST(0 AS BIGINT),
        list_transform(
          regexp_extract_all(md5(CAST(doc_id AS VARCHAR) || ':42'), '.'),
          c -> CAST(ord(c) AS BIGINT))),
      (acc, c) -> (acc * 257 + c) % 2147483647
    ) % 1000000 AS bkt
  FROM documents
)
SELECT doc_id,
  CAST(bkt % 8 AS INT) AS shard_id,
  CAST(row_number() OVER (PARTITION BY bkt % 8 ORDER BY bkt, doc_id)
       AS BIGINT) AS shard_pos
FROM s
"""


@query("curation_shard_assignment", _SHARD_ORACLE)
def curation_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus shuffle into 8 training shards: shard_id and
    within-shard position are pure functions of (doc_id, seed), so the
    oracle reproduces the EXACT permutation — the reproducible 'global
    shuffle then write shards' step of corpus export."""
    from databricks_etl_pipelines_spark.operators.curation import (
        shard_assignment,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id")
    return shard_assignment(docs, "doc_id", 8, seed=42)


# Greedy packing is a sequential recurrence per packing stream (the pack
# counter resets on overflow, so it is NOT a prefix sum) — the oracle
# replays it with a recursive CTE stepping one document per iteration in
# every bucket simultaneously: depth = max docs/bucket, linear work.
# The md5/Karp-Rabin bucket makes stream membership engine-exact.
_PACK_W = 256
_PACK_EMIT_PACK = f"""CASE WHEN w.off_after > 0
  AND w.off_after + r.nt > {_PACK_W}
  THEN w.pack_after + 1 ELSE w.pack_after END"""
_PACK_EMIT_OFF = f"""CASE WHEN w.off_after > 0
  AND w.off_after + r.nt > {_PACK_W} THEN 0 ELSE w.off_after END"""

_PACK_SEQ_ORACLE = f"""
WITH RECURSIVE t AS (
  SELECT doc_id, CAST(len({_SQL_TOKS}) AS BIGINT) AS nt,
    list_reduce(
      list_prepend(CAST(0 AS BIGINT),
        list_transform(
          regexp_extract_all(md5(CAST(doc_id AS VARCHAR) || ':42'), '.'),
          c -> CAST(ord(c) AS BIGINT))),
      (acc, c) -> (acc * 257 + c) % 2147483647
    ) % 8 AS bkt
  FROM documents
),
r AS (
  SELECT bkt, doc_id, nt,
    row_number() OVER (PARTITION BY bkt ORDER BY doc_id) AS rn
  FROM t
),
walk AS (
  SELECT bkt, rn, doc_id, nt,
    CAST(0 AS BIGINT) AS pack_local,
    CAST(0 AS BIGINT) AS pack_offset,
    CASE WHEN nt >= {_PACK_W} THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT)
      END AS pack_after,
    CASE WHEN nt >= {_PACK_W} THEN CAST(0 AS BIGINT) ELSE nt END AS off_after
  FROM r WHERE rn = 1
  UNION ALL
  SELECT r.bkt, r.rn, r.doc_id, r.nt,
    {_PACK_EMIT_PACK} AS pack_local,
    {_PACK_EMIT_OFF} AS pack_offset,
    CASE WHEN ({_PACK_EMIT_OFF}) + r.nt >= {_PACK_W}
      THEN ({_PACK_EMIT_PACK}) + 1 ELSE ({_PACK_EMIT_PACK}) END AS pack_after,
    CASE WHEN ({_PACK_EMIT_OFF}) + r.nt >= {_PACK_W}
      THEN 0 ELSE ({_PACK_EMIT_OFF}) + r.nt END AS off_after
  FROM walk w JOIN r ON r.bkt = w.bkt AND r.rn = w.rn + 1
)
SELECT doc_id, bkt * {1 << 40} + pack_local AS pack_id, pack_offset,
  nt AS n_tokens, CAST(0 AS INT) AS frag_index,
  CAST(0 AS BIGINT) AS tok_start
FROM walk
"""


@query("curation_pack_sequences", _PACK_SEQ_ORACLE)
def curation_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample packing: lay whole documents into 256-token training windows
    — 8 independent greedy packing streams keyed by the cross-engine
    md5/Karp-Rabin bucket, so the ENTIRE layout (membership, pack ids,
    offsets) is a pure function of the corpus and DuckDB replays it
    value-for-value with a recursive CTE. Planted-sequence semantics and
    invariants additionally pinned by
    test_pack_sequences_planted_and_invariants."""
    from databricks_etl_pipelines_spark.functions.textfns import (
        fingerprint_rolling,
    )
    from databricks_etl_pipelines_spark.operators.packing import (
        pack_sequences,
    )

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", token_count("text").alias("n_tokens")
    )
    bucket = (
        fingerprint_rolling(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":42")))
        )
        % 8
    )
    return pack_sequences(
        docs, "doc_id", "n_tokens", window=256, n_partitions=8,
        bucket_expr=bucket,
    )


# split_oversized variant: a document longer than the window is cut into
# window-sized fragments — each full fragment owns a pack, the tail opens
# a pack later documents can share. The recurrence unifies both shapes:
# a doc either JOINS the open pack (fits entirely) or starts fresh, and
# from a fresh start the state advance is just (pack += nt // W,
# off = nt % W) for EVERY doc size. Fragment rows fan out of the walk
# with generate_series, so the CTE stays one row per doc per step.
_PACK_SPLIT_W = 64

_PACK_SPLIT_ORACLE = f"""
WITH RECURSIVE t AS (
  SELECT doc_id, CAST(len({_SQL_TOKS}) AS BIGINT) AS nt,
    list_reduce(
      list_prepend(CAST(0 AS BIGINT),
        list_transform(
          regexp_extract_all(md5(CAST(doc_id AS VARCHAR) || ':42'), '.'),
          c -> CAST(ord(c) AS BIGINT))),
      (acc, c) -> (acc * 257 + c) % 2147483647
    ) % 8 AS bkt
  FROM documents
),
r AS (
  SELECT bkt, doc_id, nt,
    row_number() OVER (PARTITION BY bkt ORDER BY doc_id) AS rn
  FROM t
),
walk AS (
  SELECT bkt, rn, doc_id, nt,
    CAST(0 AS BIGINT) AS pack_emit,
    CAST(0 AS BIGINT) AS off_emit,
    nt // {_PACK_SPLIT_W} AS pack_after,
    nt % {_PACK_SPLIT_W} AS off_after
  FROM r WHERE rn = 1
  UNION ALL
  SELECT r.bkt, r.rn, r.doc_id, r.nt,
    CASE WHEN w.off_after > 0 AND w.off_after + r.nt <= {_PACK_SPLIT_W}
         THEN w.pack_after
         WHEN w.off_after > 0 THEN w.pack_after + 1
         ELSE w.pack_after END AS pack_emit,
    CASE WHEN w.off_after > 0 AND w.off_after + r.nt <= {_PACK_SPLIT_W}
         THEN w.off_after ELSE 0 END AS off_emit,
    CASE WHEN w.off_after > 0 AND w.off_after + r.nt <= {_PACK_SPLIT_W}
         THEN (CASE WHEN w.off_after + r.nt >= {_PACK_SPLIT_W}
               THEN w.pack_after + 1 ELSE w.pack_after END)
         WHEN w.off_after > 0
         THEN w.pack_after + 1 + r.nt // {_PACK_SPLIT_W}
         ELSE w.pack_after + r.nt // {_PACK_SPLIT_W} END AS pack_after,
    CASE WHEN w.off_after > 0 AND w.off_after + r.nt <= {_PACK_SPLIT_W}
         THEN (CASE WHEN w.off_after + r.nt >= {_PACK_SPLIT_W}
               THEN 0 ELSE w.off_after + r.nt END)
         ELSE r.nt % {_PACK_SPLIT_W} END AS off_after
  FROM walk w JOIN r ON r.bkt = w.bkt AND r.rn = w.rn + 1
)
SELECT doc_id,
  bkt * {1 << 40} + pack_emit
    + CASE WHEN nt > {_PACK_SPLIT_W} THEN u.j ELSE 0 END AS pack_id,
  CASE WHEN nt > {_PACK_SPLIT_W} THEN 0 ELSE off_emit END AS pack_offset,
  CASE WHEN nt <= {_PACK_SPLIT_W} THEN nt
       WHEN u.j < nt // {_PACK_SPLIT_W} THEN {_PACK_SPLIT_W}
       ELSE nt % {_PACK_SPLIT_W} END AS n_tokens,
  CAST(CASE WHEN nt > {_PACK_SPLIT_W} THEN u.j ELSE 0 END AS INT)
    AS frag_index,
  CASE WHEN nt > {_PACK_SPLIT_W} THEN u.j * {_PACK_SPLIT_W}
       ELSE CAST(0 AS BIGINT) END AS tok_start
FROM walk, unnest(generate_series(0,
  CASE WHEN nt > {_PACK_SPLIT_W}
       THEN nt // {_PACK_SPLIT_W}
            + CASE WHEN nt % {_PACK_SPLIT_W} > 0 THEN 1 ELSE 0 END
       ELSE 1 END - 1)) AS u(j)
"""


@query("curation_pack_split_oversized", _PACK_SPLIT_ORACLE)
def curation_pack_split_oversized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy packing with ``split_oversized=True`` at a 64-token window
    (most documents exceed it, so the fragment path is the COMMON path
    here): full fragments own their packs, tails open shareable packs,
    and (frag_index, tok_start) tell the loader which token range lands
    where. The recursive-CTE oracle replays layout AND fragment fan-out
    value-for-value under the cross-engine bucket."""
    from databricks_etl_pipelines_spark.functions.textfns import (
        fingerprint_rolling,
    )
    from databricks_etl_pipelines_spark.operators.packing import (
        pack_sequences,
    )

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", token_count("text").alias("n_tokens")
    )
    bucket = (
        fingerprint_rolling(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":42")))
        )
        % 8
    )
    return pack_sequences(
        docs, "doc_id", "n_tokens", window=_PACK_SPLIT_W, n_partitions=8,
        bucket_expr=bucket, split_oversized=True,
    )


# Concatenate-then-chunk packing is pure order arithmetic (no hash
# partitioner in the semantics), so unlike greedy packing it gets a HARD
# oracle: DuckDB replays the global token prefix sum with one window.
_PACK_CONCAT_ORACLE = f"""
WITH t AS (
  SELECT doc_id, CAST(len({_SQL_TOKS}) AS BIGINT) AS n_tokens FROM documents
),
c AS (
  SELECT doc_id, n_tokens,
    COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_start
  FROM t
)
SELECT doc_id, n_tokens, CAST(tok_start AS BIGINT) AS tok_start,
  CAST(tok_start // 256 AS BIGINT) AS chunk_start,
  CAST(CASE WHEN n_tokens > 0 THEN (tok_start + n_tokens - 1) // 256
       ELSE tok_start // 256 END AS BIGINT) AS chunk_end,
  CAST(CASE WHEN n_tokens > 0
       THEN (tok_start + n_tokens - 1) // 256 - tok_start // 256 + 1
       ELSE 0 END AS BIGINT) AS n_chunks
FROM c
"""


@query("curation_pack_concat_chunks", _PACK_CONCAT_ORACLE)
def curation_pack_concat_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-then-chunk layout: every document's token range and
    256-token chunk span in the concatenated corpus stream. Distributed
    prefix scan (range repartition + per-partition offsets), NO global
    window — the oracle replays the same layout with one SQL window."""
    from databricks_etl_pipelines_spark.operators.packing import (
        pack_concat_chunks,
    )

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", token_count("text").alias("n_tokens")
    )
    return pack_concat_chunks(docs, "doc_id", "n_tokens", chunk_tokens=256,
                              n_partitions=8)


_CHUNK_MANIFEST_ORACLE = f"""
WITH t AS (
  SELECT doc_id, CAST(len({_SQL_TOKS}) AS BIGINT) AS n_tokens FROM documents
),
c AS (
  SELECT doc_id, n_tokens,
    COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_start
  FROM t
),
lay AS (
  SELECT doc_id, CAST(tok_start // 256 AS BIGINT) AS chunk_start,
    CAST((tok_start + n_tokens - 1) // 256 AS BIGINT) AS chunk_end
  FROM c WHERE n_tokens > 0
),
sp AS (
  SELECT doc_id, chunk_start,
    unnest(generate_series(chunk_start, chunk_end)) AS chunk_id
  FROM lay
)
SELECT chunk_id,
  count(*) AS n_docs,
  CAST(SUM(CASE WHEN chunk_start = chunk_id THEN 1 ELSE 0 END) AS BIGINT)
    AS n_starting_docs,
  min(doc_id) AS first_doc,
  max(doc_id) AS last_doc
FROM sp GROUP BY chunk_id
"""


@query("curation_chunk_manifest", _CHUNK_MANIFEST_ORACLE)
def curation_chunk_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Loader-side manifest for the concat-chunk layout: per 256-token
    chunk, how many documents overlap it / begin in it and the doc-id
    range — what a training data loader needs to fetch a chunk's text."""
    from databricks_etl_pipelines_spark.operators.packing import (
        chunk_manifest,
        pack_concat_chunks,
    )

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", token_count("text").alias("n_tokens")
    )
    layout = pack_concat_chunks(docs, "doc_id", "n_tokens",
                                chunk_tokens=256, n_partitions=8)
    return chunk_manifest(layout)


# Feature-hashing text embedder: integer-exact sparse embeddings, so the
# whole text -> vector -> retrieval pipeline replays bit-for-bit in SQL
# (dot products and norms are BIGINT sums; one rounded division at the end).
_HASH_EMBED_CTE = f"""WITH tok AS (
  SELECT doc_id AS id, unnest({_SQL_TOKS}) AS t FROM documents
),
hv AS (SELECT id, list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(regexp_extract_all(md5(t), '.'), c -> CAST(ord(c) AS BIGINT))), (acc, c) -> (acc * 257 + c) % 2147483647) AS h FROM tok),
e AS (
  SELECT id, CAST(h % 64 AS INT) AS bucket,
    (CAST(floor(h / 64) AS BIGINT) % 2) * 2 - 1 AS sgn
  FROM hv
),
emb AS (
  SELECT id, bucket, CAST(sum(sgn) AS BIGINT) AS val
  FROM e GROUP BY id, bucket HAVING sum(sgn) <> 0
)"""

_HASH_EMBED_ORACLE = _HASH_EMBED_CTE + """
SELECT id AS doc_id, bucket, val FROM emb
"""


@query("text_hash_embeddings", _HASH_EMBED_ORACLE)
def text_hash_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick document embeddings as sparse integer (doc, bucket,
    val) rows — integer-exact by construction, so the oracle replays
    every signed bucket count."""
    from databricks_etl_pipelines_spark.operators.similarity import (
        hash_embed_buckets,
    )

    docs = table(spark, sf_dir, "documents")
    out = hash_embed_buckets(docs, "text", "doc_id", dim=64)
    return out.select(F.col("id").alias("doc_id"), "bucket", "val")


_HASH_TOPK_ORACLE = _HASH_EMBED_CTE + """,
norms AS (
  SELECT id, CAST(sum(val * val) AS BIGINT) AS n2 FROM emb GROUP BY id
),
q AS (SELECT bucket, val AS qval FROM emb WHERE id = 0),
qn AS (SELECT n2 AS qn2 FROM norms WHERE id = 0),
dots AS (
  SELECT e.id, CAST(sum(e.val * q.qval) AS BIGINT) AS dot
  FROM emb e JOIN q USING (bucket) WHERE e.id <> 0 GROUP BY e.id
)
SELECT dots.id AS doc_id,
  floor(dot / (sqrt(CAST(n.n2 AS DOUBLE)) * sqrt(CAST(qn.qn2 AS DOUBLE)))
        * 1000000 + 0.5) / 1000000 AS cosine_sim
FROM dots JOIN norms n ON dots.id = n.id CROSS JOIN qn
ORDER BY cosine_sim DESC, doc_id
LIMIT 20
"""


@query("similarity_text_hash_topk", _HASH_TOPK_ORACLE)
def similarity_text_hash_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end text retrieval: feature-hash the corpus, then cosine
    top-20 neighbors of document 0 computed relationally on the sparse
    integer rows — embeddings, similarities, and ranking all replay
    exactly in SQL (the scores are exact-integer ratios)."""
    from databricks_etl_pipelines_spark.operators.similarity import (
        hash_embed_cosine_topk,
    )

    docs = table(spark, sf_dir, "documents")
    out = hash_embed_cosine_topk(docs, "text", "doc_id", query_id=0, k=20)
    return out


# Sequence-length bucketing: pow-2 ladder with padding-waste accounting —
# the "how much compute does padding burn per batch bucket" report.
_LEN_BUCKET_CASE = (
    "CASE WHEN n_tokens < 64 THEN 64 WHEN n_tokens < 128 THEN 128 "
    "WHEN n_tokens < 256 THEN 256 WHEN n_tokens < 512 THEN 512 "
    "WHEN n_tokens < 1024 THEN 1024 ELSE 2048 END"
)

_LEN_BUCKETS_ORACLE = f"""
WITH t AS (
  SELECT doc_id, CAST(len({_SQL_TOKS}) AS BIGINT) AS n_tokens FROM documents
),
b AS (SELECT doc_id, n_tokens,
  CAST({_LEN_BUCKET_CASE} AS BIGINT) AS bucket_cap FROM t)
SELECT bucket_cap,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
  CAST(max(n_tokens) AS BIGINT) AS max_tokens,
  CAST(sum(bucket_cap - n_tokens) AS BIGINT) AS pad_tokens,
  {sql_stable_round(
      'sum(bucket_cap - n_tokens) * 1.0 / (count(*) * bucket_cap)', 6
  )} AS pad_ratio
FROM b GROUP BY bucket_cap
"""


@query("curation_length_buckets", _LEN_BUCKETS_ORACLE)
def curation_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length bucketing report: docs binned into a power-of-two
    token-length ladder with exact padding-waste accounting (pad_tokens =
    what pad-to-bucket-cap batching would burn; pad_ratio = the wasted
    fraction of each bucket's compute). The diagnostic behind choosing
    bucketed batching vs packing — compare with curation_pack_concat_chunks
    (zero waste) and curation_pack_sequences (bounded waste)."""
    docs = table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", token_count("text").alias("n_tokens")
    )
    cap = (
        F.when(F.col("n_tokens") < 64, 64)
        .when(F.col("n_tokens") < 128, 128)
        .when(F.col("n_tokens") < 256, 256)
        .when(F.col("n_tokens") < 512, 512)
        .when(F.col("n_tokens") < 1024, 1024)
        .otherwise(2048)
        .cast("bigint")
    )
    b = t.withColumn("bucket_cap", cap)
    return b.groupBy("bucket_cap").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.max("n_tokens").alias("max_tokens"),
        F.sum(F.col("bucket_cap") - F.col("n_tokens")).alias("pad_tokens"),
        stable_round(
            F.sum(F.col("bucket_cap") - F.col("n_tokens"))
            * F.lit(1.0)
            / (F.count("*") * F.first("bucket_cap")),
            6,
        ).alias("pad_ratio"),
    )


_TFIDF_ORACLE = f"""
WITH w AS (
  SELECT doc_id, unnest({_SQL_TOKS}) AS word FROM documents
),
dl AS (SELECT doc_id, len({_SQL_TOKS}) AS n_tokens FROM documents),
tf AS (SELECT doc_id, word, count(*) AS c FROM w GROUP BY doc_id, word),
idf AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
nd AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.word,
    (tf.c * 1.0 / dl.n_tokens) * ln(nd.n_docs * 1.0 / idf.df) AS tfidf
  FROM tf
  JOIN dl ON tf.doc_id = dl.doc_id
  JOIN idf ON tf.word = idf.word
  CROSS JOIN nd
)
SELECT doc_id, word,
  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, word)
       AS INT) AS term_rank,
  {sql_stable_round('tfidf', 6)} AS tfidf
FROM scored
QUALIFY term_rank <= 3
"""


@query("text_tfidf_top_terms", _TFIDF_ORACLE)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword extraction: top-3 terms per document by tf-idf (term mass
    in the doc × corpus rarity). Pure scalar IEEE math after exact integer
    counts, so ranks and rounded scores are bit-stable cross-engine.

    Scale shape: two hash aggregates — (doc, word) term frequencies, then
    word document frequencies off the first (already-reduced) relation —
    one equi-join back on word, a 1-row broadcast for the corpus size, and
    one per-doc window for the rank."""
    from pyspark.sql import Window

    from databricks_etl_pipelines_spark.functions.textfns import tokens

    docs = table(spark, sf_dir, "documents")
    words = docs.select("doc_id", F.explode(tokens("text")).alias("word"))
    dl = docs.select("doc_id", token_count("text").alias("n_tokens"))
    tf = words.groupBy("doc_id", "word").agg(F.count("*").alias("c"))
    idf = tf.groupBy("word").agg(F.count("*").alias("df"))
    nd = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(dl, "doc_id")
        .join(idf, "word")
        .crossJoin(F.broadcast(nd))
        .withColumn(
            "tfidf",
            (F.col("c") / F.col("n_tokens"))
            * F.log(F.col("n_docs") / F.col("df")),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "word")
    return (
        scored.withColumn("term_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("term_rank") <= 3)
        .select(
            "doc_id",
            "word",
            "term_rank",
            stable_round(F.col("tfidf"), 6).alias("tfidf"),
        )
    )


# -- BM25 retrieval ------------------------------------------------------------

_BM25_TERMS = ("dup", "spark", "vector", "window")  # rare + 3 common
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 20

# Okapi BM25 with Lucene's positive-clamped idf, ln(1 + (N-df+0.5)/(df+0.5)).
# Determinism: tf/dl/df/N are exact integers; avgdl is ONE division of
# exact values; each term's score is a single pinned IEEE expression; the
# 4-term sum folds in alphabetical term order, left-associated, with
# absent terms contributing exact +0.0 — so the total is one
# deterministic expression per doc on both engines (ln() is last-ulp
# libm-sensitive, absorbed by round-6 like text_tfidf_top_terms).
# DuckDB literals are CAST to DOUBLE (bare 2.2 would be DECIMAL).


def _bm25_tf_sql(t: str) -> str:
    return (
        f"coalesce(max(CASE WHEN tf.word = '{t}' THEN tf.c END), 0)"
        f" AS tf_{t}"
    )


def _bm25_term_sql(t: str) -> str:
    k1 = f"CAST({_BM25_K1} AS DOUBLE)"
    one_b = f"CAST({1.0 - _BM25_B} AS DOUBLE)"
    b = f"CAST({_BM25_B} AS DOUBLE)"
    k1p1 = f"CAST({_BM25_K1 + 1.0} AS DOUBLE)"
    return (
        f"idf.idf_{t} * ((p.tf_{t} * {k1p1}) / (p.tf_{t} + {k1} * "
        f"({one_b} + {b} * (p.n_tokens / "
        f"(CAST(s.sum_dl AS DOUBLE) / s.n_docs)))))"
    )


_BM25_PREFIX = f"""
WITH w AS (
  SELECT doc_id, unnest({_SQL_TOKS}) AS word FROM documents
),
dl AS (SELECT doc_id, len({_SQL_TOKS}) AS n_tokens FROM documents),
tf AS (
  SELECT doc_id, word, CAST(count(*) AS BIGINT) AS c FROM w
  WHERE word IN {str(tuple(_BM25_TERMS))}
  GROUP BY doc_id, word
),
stats AS (
  SELECT
    (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs,
    (SELECT CAST(sum(n_tokens) AS BIGINT) FROM dl) AS sum_dl
),
df AS (SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY word),
idf AS (
  SELECT
    {", ".join(
        "max(CASE WHEN word = '" + t + "' THEN "
        "ln(CAST(1 AS DOUBLE) + (CAST(n_docs AS DOUBLE) - df + "
        "CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE))) END) "
        "AS idf_" + t
        for t in _BM25_TERMS)}
  FROM df, stats
),
piv AS MATERIALIZED (
  SELECT dl.doc_id, dl.n_tokens,
    {", ".join(_bm25_tf_sql(t) for t in _BM25_TERMS)}
  FROM dl LEFT JOIN tf ON dl.doc_id = tf.doc_id
  GROUP BY dl.doc_id, dl.n_tokens
)"""

_BM25_ORACLE = _BM25_PREFIX + f""",
scored AS (
  SELECT p.doc_id, p.n_tokens,
    {", ".join("p.tf_" + t for t in _BM25_TERMS)},
    {" + ".join(_bm25_term_sql(t) for t in _BM25_TERMS)} AS score
  FROM piv p, stats s, idf
)
SELECT doc_id, n_tokens,
  {", ".join("tf_" + t for t in _BM25_TERMS)},
  {sql_stable_round('score', 6)} AS score_bm25
FROM scored
QUALIFY row_number() OVER (
  ORDER BY {sql_stable_round('score', 6)} DESC, doc_id) <= {_BM25_TOPK}
"""


def _bm25_scored(
    spark: SparkSession, sf_dir: str, b: float = _BM25_B
) -> DataFrame:
    """Every document scored under Okapi BM25 (rounded 6dp) — the shared
    relation behind text_bm25_topk (b=0.75) and text_rbo_rankings'
    b=0 comparison arm. With b=0 the literals fold so the length-norm
    factor is exactly 1.0 and the denominator is bit-identically
    tf + k1, matching the oracle's explicitly dl-free b0 expression."""
    from databricks_etl_pipelines_spark.functions.textfns import tokens

    # ONE tokenize pass (r15): per-doc length AND the four term
    # frequencies come out of a single explode + hash-agg — the old
    # words/dl/tf/df_rel relations re-tokenized the corpus once per
    # reference (5 parquet scans compiled into the fused RRF plan).
    # ``tokens`` (split of trimmed text) always yields >= 1 element, so
    # explode_outer keeps every document and count(word) == size(tokens)
    # exactly; tf_t = sum(word == t) equals the old per-(doc, term)
    # count, 0 when absent, and df_t = #docs with tf_t > 0 equals the
    # old tf row count per term. The idf/avgdl expressions are
    # textually identical IEEE ops over the same integers.
    docs = table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode_outer(tokens("text")).alias("word")
    )
    # Pinned (r15): piv feeds the corpus-scalar aggregate AND the final
    # scoring projection — invocation-scoped lazy checkpoint (one row
    # per document).
    piv = (
        words.groupBy("doc_id")
        .agg(
            F.count("word").alias("n_tokens"),
            *[
                F.sum(
                    F.when(F.col("word") == t, 1).otherwise(0)
                ).alias(f"tf_{t}")
                for t in _BM25_TERMS
            ],
        )
    ).transform(invocation_pin)
    side = piv.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("sum_dl"),
        *[
            F.sum(
                F.when(F.col(f"tf_{t}") > 0, 1).otherwise(0)
            ).alias(f"df_{t}")
            for t in _BM25_TERMS
        ],
    )
    idf_stats = side.select(
        "n_docs",
        "sum_dl",
        *[
            F.log(
                F.lit(1.0)
                + (
                    F.col("n_docs").cast("double")
                    - F.col(f"df_{t}")
                    + F.lit(0.5)
                )
                / (F.col(f"df_{t}") + F.lit(0.5))
            ).alias(f"idf_{t}")
            for t in _BM25_TERMS
        ],
    )
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")

    def term_score(t: str) -> F.Column:
        tf_c = F.col(f"tf_{t}")
        if b == 0.0:
            denom = tf_c + F.lit(_BM25_K1)
        else:
            denom = tf_c + F.lit(_BM25_K1) * (
                F.lit(1.0 - b) + F.lit(b) * (F.col("n_tokens") / avgdl)
            )
        return F.col(f"idf_{t}") * (
            (tf_c * F.lit(_BM25_K1 + 1.0)) / denom
        )

    # left-associated alphabetical fold — same order as the oracle text
    score = term_score(_BM25_TERMS[0])
    for t in _BM25_TERMS[1:]:
        score = score + term_score(t)
    return (
        piv.crossJoin(F.broadcast(idf_stats))
        .select(
            "doc_id",
            "n_tokens",
            *[f"tf_{t}" for t in _BM25_TERMS],
            stable_round(score, 6).alias("score_bm25"),
        )
    )


@query("text_bm25_topk", _BM25_ORACLE)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 retrieval (Robertson/Walker, TREC-3; Lucene's
    positive-clamped idf): top-20 documents for a fixed 4-term query —
    one rare discriminative term plus three common ones, so both the
    idf spread and the tf/length saturation genuinely move the ranking.
    Scores are pinned-order IEEE expressions over exact integer corpus
    statistics; the oracle replays idf, saturation, fold order, and the
    round-before-rank top-k.

    Scale shape: ONE corpus scan for (doc, term) frequencies filtered
    to the query terms (predicate BEFORE the aggregate — tf state is
    #docs × #query-terms, not #docs × vocab), one bounded df/N/avgdl
    side relation broadcast back, and a TakeOrderedAndProject for the
    top-k (never a global sort — the compared rows are exactly the
    oracle's QUALIFY top-k). Per-query cost at 100 TB is the token
    scan; text_bm25_indexed is the precomputed-posting-list production
    split."""
    scored = _bm25_scored(spark, sf_dir, _BM25_B)
    return scored.orderBy(F.desc("score_bm25"), "doc_id").limit(
        _BM25_TOPK
    )


# Rank-biased overlap (Webber/Moffat/Zobel, TOIS 2010) between the BM25
# ranking and the raw TF-sum baseline — the IR-evaluation metric for
# "how much did the idf/length machinery change the ranking". p is
# PINNED to 1/2: every weight p^(d-1) is an exact power of two carried
# by a halving accumulator (no libm pow — the temperature-alpha=0.5
# discipline), and the depth fold runs in ascending-d order on both
# engines (array fold, not a visit-order SQL sum).
_RBO_K = _BM25_TOPK

def _bm25_term_b0_sql(t: str) -> str:
    k1 = f"CAST({_BM25_K1} AS DOUBLE)"
    k1p1 = f"CAST({_BM25_K1 + 1.0} AS DOUBLE)"
    return f"idf.idf_{t} * ((p.tf_{t} * {k1p1}) / (p.tf_{t} + {k1}))"


_RBO_ORACLE = _BM25_PREFIX + f""",
sa AS (
  SELECT p.doc_id,
    {" + ".join(_bm25_term_sql(t) for t in _BM25_TERMS)} AS score
  FROM piv p, stats s, idf
),
a AS (
  SELECT doc_id, row_number() OVER (
    ORDER BY {sql_stable_round('score', 6)} DESC, doc_id) AS ra
  FROM sa
  QUALIFY ra <= {_RBO_K}
),
sb AS (
  SELECT p.doc_id,
    {" + ".join(_bm25_term_b0_sql(t) for t in _BM25_TERMS)} AS score
  FROM piv p, idf
),
b AS (
  SELECT doc_id, row_number() OVER (
    ORDER BY {sql_stable_round('score', 6)} DESC, doc_id) AS rb
  FROM sb
  QUALIFY rb <= {_RBO_K}
),
ov AS (
  SELECT d.d, CAST(count(a.doc_id) AS BIGINT) AS overlap
  FROM (SELECT unnest(range(1, {_RBO_K} + 1)) AS d) d
  LEFT JOIN (a JOIN b USING (doc_id))
    ON a.ra <= d.d AND b.rb <= d.d
  GROUP BY d.d
),
arr AS (
  SELECT list(struct_pack(d := d, ov := overlap) ORDER BY d) AS xs
  FROM ov
),
folded AS (
  SELECT
    (SELECT overlap FROM ov WHERE d = 5) AS overlap_5,
    (SELECT overlap FROM ov WHERE d = 10) AS overlap_10,
    (SELECT overlap FROM ov WHERE d = {_RBO_K}) AS overlap_k,
    list_reduce(
      list_prepend(struct_pack(s := CAST(0 AS DOUBLE),
                               w := CAST(0.5 AS DOUBLE)),
        list_transform(xs, x ->
          struct_pack(s := CAST(x.ov AS DOUBLE) / x.d,
                      w := CAST(0 AS DOUBLE)))),
      (acc, x) -> struct_pack(s := acc.s + acc.w * x.s,
                              w := acc.w * CAST(0.5 AS DOUBLE))
    ).s AS rbo_raw
  FROM arr
)
SELECT overlap_5, overlap_10, overlap_k,
  floor(rbo_raw * 1000000 + 0.5) / 1000000 AS rbo
FROM folded
"""


@query("text_rbo_rankings", _RBO_ORACLE)
def text_rbo_rankings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap between the BM25 top-20 and the SAME query
    scored WITHOUT length normalization (b=0) — the top-weighted
    ranking-similarity metric (Webber et al., truncated RBO at p=1/2:
    exact halving weights, ascending-d array fold on both engines).
    Isolates exactly what the dl/avgdl factor changes in the ranking
    (observed 1/2/16 shared docs at depths 5/10/20 at sf0.01 — the
    numbers genuinely move under any scoring or ranking drift, unlike
    a near-zero or near-one comparison). Completes the
    retrieval-evaluation family next to recall@k
    (similarity_ann_recall / similarity_jl_recall).

    Scale shape: both rankings are TakeOrderedAndProject caps over the
    shared scored relation; the overlap grid is 20 × ≤20 joined rows;
    the fold runs over a bounded 20-element array — nothing downstream
    of the two top-k's touches corpus-sized data."""
    from pyspark.sql import Window

    # bounded partitionless windows: both inputs are ≤ k-row top-k caps
    a = (
        _bm25_scored(spark, sf_dir, _BM25_B)
        .orderBy(F.desc("score_bm25"), "doc_id")
        .limit(_RBO_K)
    )
    wa = Window.orderBy(F.desc("score_bm25"), "doc_id")
    a = a.select("doc_id", F.row_number().over(wa).alias("ra"))
    b = (
        _bm25_scored(spark, sf_dir, 0.0)
        .orderBy(F.desc("score_bm25"), "doc_id")
        .limit(_RBO_K)
    )
    wb = Window.orderBy(F.desc("score_bm25"), "doc_id")
    b = b.select("doc_id", F.row_number().over(wb).alias("rb"))
    depths = spark.range(1, _RBO_K + 1).select(F.col("id").alias("d"))
    both = a.join(b, "doc_id")
    ov = (
        depths.join(
            F.broadcast(both),
            (F.col("ra") <= F.col("d")) & (F.col("rb") <= F.col("d")),
            "left",
        )
        .groupBy("d")
        .agg(F.count("doc_id").alias("overlap"))
    )
    arr = ov.agg(
        F.array_sort(
            F.collect_list(F.struct("d", "overlap"))
        ).alias("xs")
    )
    fold = F.aggregate(
        F.transform(
            "xs",
            lambda x: (x["overlap"].cast("double") / x["d"]),
        ),
        F.struct(
            F.lit(0.0).alias("s"), F.lit(0.5).alias("w")
        ),
        lambda acc, v: F.struct(
            (acc["s"] + acc["w"] * v).alias("s"),
            (acc["w"] * F.lit(0.5)).alias("w"),
        ),
    )["s"]
    at = {
        d: F.max(
            F.when(F.col("d") == d, F.col("overlap"))
        ).alias(f"overlap_{'k' if d == _RBO_K else d}")
        for d in (5, 10, _RBO_K)
    }
    picks = ov.groupBy().agg(*at.values())
    return picks.crossJoin(
        F.broadcast(arr.select(stable_round(fold, 6).alias("rbo")))
    ).select("overlap_5", "overlap_10", "overlap_k", "rbo")


# Reciprocal rank fusion (Cormack/Clarke/Buettcher, SIGIR 2009) of the
# lexical BM25 top-20 and the semantic hash-embedding cosine top-20 —
# the standard hybrid-retrieval combiner (rank-based, so the two
# incomparable score scales never mix). Determinism: both input
# rankings order by their ROUNDED scores then doc_id (exactly what each
# ranking's own oracle compares), each RRF contribution is one double
# division 1/(C + rank) of exact integers, and the fused score is a
# TWO-term pinned-order sum (bm25 + cosine) — identical IEEE doubles on
# both engines, so ranking on the unrounded sum cannot diverge.
_RRF_C = 60

_RRF_ORACLE = (
    _BM25_PREFIX
    + f""",
scored AS (
  SELECT p.doc_id,
    {" + ".join(_bm25_term_sql(t) for t in _BM25_TERMS)} AS score
  FROM piv p, stats s, idf
),
bm AS (
  SELECT doc_id, row_number() OVER (
    ORDER BY {sql_stable_round('score', 6)} DESC, doc_id) AS rank_bm25
  FROM scored
  QUALIFY rank_bm25 <= {_BM25_TOPK}
),
"""
    + _HASH_EMBED_CTE.removeprefix("WITH ")
    + f""",
norms AS (
  SELECT id, CAST(sum(val * val) AS BIGINT) AS n2 FROM emb GROUP BY id
),
q AS (SELECT bucket, val AS qval FROM emb WHERE id = 0),
qn AS (SELECT n2 AS qn2 FROM norms WHERE id = 0),
dots AS (
  SELECT e2.id, CAST(sum(e2.val * q.qval) AS BIGINT) AS dot
  FROM emb e2 JOIN q USING (bucket) WHERE e2.id <> 0 GROUP BY e2.id
),
cz AS (
  SELECT dots.id AS doc_id, row_number() OVER (ORDER BY
      floor(dot / (sqrt(CAST(n.n2 AS DOUBLE)) * sqrt(CAST(qn.qn2 AS DOUBLE)))
            * 1000000 + 0.5) / 1000000 DESC,
      dots.id) AS rank_cos
  FROM dots JOIN norms n ON dots.id = n.id CROSS JOIN qn
  QUALIFY rank_cos <= {_BM25_TOPK}
),
fused AS (
  SELECT coalesce(bm.doc_id, cz.doc_id) AS doc_id,
    CAST(bm.rank_bm25 AS BIGINT) AS rank_bm25,
    CAST(cz.rank_cos AS BIGINT) AS rank_cos,
    coalesce(CAST(1 AS DOUBLE) / ({_RRF_C} + bm.rank_bm25),
             CAST(0 AS DOUBLE))
      + coalesce(CAST(1 AS DOUBLE) / ({_RRF_C} + cz.rank_cos),
                 CAST(0 AS DOUBLE)) AS rrf
  FROM bm FULL JOIN cz ON bm.doc_id = cz.doc_id
)
SELECT
  CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT)
    AS fused_rank,
  doc_id, rank_bm25, rank_cos,
  {sql_stable_round('rrf', 9)} AS rrf_score
FROM fused
"""
)


@query("similarity_rrf_fusion", _RRF_ORACLE)
def similarity_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal rank fusion of the BM25 lexical
    top-20 (text_bm25_topk's 4-term query) and the hash-embedding
    cosine top-20 (similarity_text_hash_topk's query doc 0) — RRF(d) =
    Σ_lists 1/(60 + rank_d), the rank-based combiner that needs no
    score normalization between the incomparable BM25 and cosine
    scales. A doc absent from one list contributes exact +0.0 for it
    (standard truncated-list RRF). The oracle replays BOTH underlying
    rankings (idf/saturation scoring and integer-exact sparse cosine),
    the full-outer rank join, and the fused ordering.

    Scale shape: both inputs are TakeOrderedAndProject k-caps over
    their (already scale-shaped) scoring relations; everything after —
    the rank windows, the full-outer join, the fused sort — runs on
    ≤ 2k = 40 rows. The partitionless windows here are over those
    bounded top-k caps only (ranking caps, cited bound k=20 each)."""
    from pyspark.sql import Window

    from databricks_etl_pipelines_spark.operators.similarity import (
        hash_embed_cosine_topk,
    )

    bm = (
        _bm25_scored(spark, sf_dir, _BM25_B)
        .orderBy(F.desc("score_bm25"), "doc_id")
        .limit(_BM25_TOPK)
    )
    ra = bm.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("score_bm25"), "doc_id"))
        .cast("long")
        .alias("rank_bm25"),
    )
    docs = table(spark, sf_dir, "documents")
    cz = hash_embed_cosine_topk(
        docs, "text", "doc_id", query_id=0, k=_BM25_TOPK
    )
    rb = cz.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("cosine_sim"), "doc_id"))
        .cast("long")
        .alias("rank_cos"),
    )
    fused = ra.join(rb, "doc_id", "full")
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(_RRF_C) + F.col("rank_bm25")), F.lit(0.0)
    ) + F.coalesce(
        F.lit(1.0) / (F.lit(_RRF_C) + F.col("rank_cos")), F.lit(0.0)
    )
    out = fused.select(
        "doc_id", "rank_bm25", "rank_cos", rrf.alias("rrf")
    )
    return out.select(
        F.row_number()
        .over(Window.orderBy(F.desc("rrf"), "doc_id"))
        .cast("long")
        .alias("fused_rank"),
        "doc_id",
        "rank_bm25",
        "rank_cos",
        stable_round(F.col("rrf"), 9).alias("rrf_score"),
    )


_BM25_INCR_CACHE: dict[str, "object"] = {}


@query(
    "text_bm25_incremental",
    # the SAME oracle again: build-on-two-thirds + append-one-third must
    # be indistinguishable from one build over everything — postings are
    # per-(doc, word) disjoint rows, corpus scalars fold additively, and
    # df is derived at probe time, so incremental maintenance cannot
    # shift a single score
    _BM25_ORACLE,
)
def text_bm25_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental inverted-index maintenance
    (operators/retrieval.py::InvertedTextIndex.append): the index is
    built on docs with doc_id % 3 ≠ 2, a later batch (doc_id % 3 = 2)
    is APPENDED — new postings land in the existing bucket layout, the
    corpus scalars fold additively, df needs no stored state — and the
    probe must reproduce the full-corpus scan's top-20 bit-for-bit
    (oracle: text_bm25_topk's SQL verbatim). The production refresh
    path: a daily crawl lands as an append, never a rebuild; probe IO
    stays partition-pruned to the query terms' buckets."""
    from databricks_etl_pipelines_spark.operators.retrieval import (
        InvertedTextIndex,
    )

    idx = _BM25_INCR_CACHE.get(sf_dir)
    if idx is None:
        docs = table(spark, sf_dir, "documents")
        base = docs.filter(F.col("doc_id") % 3 != 2)
        late = docs.filter(F.col("doc_id") % 3 == 2)
        idx = InvertedTextIndex.build(
            base, "text", "doc_id", scratch_dir("bm25_incr_")
        ).append(late, "text", "doc_id")
        _BM25_INCR_CACHE[sf_dir] = idx
    return idx.probe_bm25(
        spark, _BM25_TERMS, k=_BM25_TOPK, k1=_BM25_K1, b=_BM25_B
    )


_BM25_INDEX_CACHE: dict[str, "object"] = {}


@query(
    "text_bm25_indexed",
    # deliberately the SAME oracle as text_bm25_topk: the persisted
    # index is a physical layout, not a semantics change — scores, fold
    # order and the top-20 must be numerically identical to the full
    # corpus scan
    _BM25_ORACLE,
)
def text_bm25_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 over a PERSISTED inverted index
    (operators/retrieval.py::InvertedTextIndex) — the production
    retrieval split: posting lists built once, hive-partitioned by a
    word-hash bucket with document length denormalized in, corpus
    scalars (N, Σdl) as metadata; the probe reads ONLY the query
    terms' buckets (PartitionFilters prune whole directories before
    IO, plan-asserted in pytest) and never touches a per-doc side
    table. Oracle is text_bm25_topk's SQL verbatim — build/probe must
    reproduce the full-scan scores bit-for-bit. At 100 TB a query
    costs IO ∝ its terms' posting lists, not the corpus; steady-state
    probes reuse the cached index (the cold build is one corpus scan +
    a partitioned write, reported by bench's cold column if ever
    headlined)."""
    from databricks_etl_pipelines_spark.operators.retrieval import (
        InvertedTextIndex,
    )

    idx = _BM25_INDEX_CACHE.get(sf_dir)
    if idx is None:
        docs = table(spark, sf_dir, "documents")
        idx = InvertedTextIndex.build(
            docs, "text", "doc_id", scratch_dir("bm25_idx_")
        )
        _BM25_INDEX_CACHE[sf_dir] = idx
    return idx.probe_bm25(
        spark, _BM25_TERMS, k=_BM25_TOPK, k1=_BM25_K1, b=_BM25_B
    )


_CENTROID_DIM = 64

_CENTROID_ORACLE = f"""
WITH e AS (
  SELECT label, unnest(embedding) AS val,
    generate_subscripts(embedding, 1) AS pos
  FROM embeddings
),
m AS (
  SELECT label, pos, avg(val) AS c FROM e GROUP BY label, pos
),
n AS (SELECT label, count(*) AS n_vectors FROM embeddings GROUP BY label)
SELECT m.label, n.n_vectors,
  array_to_string(
    list(CAST(CAST(floor(c * 1000000 + 0.5) / 1000000 AS DECIMAL(12,6))
              AS VARCHAR) ORDER BY pos), ',') AS centroid_csv
FROM m JOIN n ON m.label = n.label
GROUP BY m.label, n.n_vectors
"""


@query("embedding_centroid_per_label", _CENTROID_ORACLE)
def embedding_centroid_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-prototype embeddings: the elementwise mean vector per label —
    the building block of centroid classifiers, cluster summaries, and
    drift monitoring over embedding tables.

    Scale shape: one hash aggregate computing 64 avg() expressions in a
    single pass (whole-stage codegen, map-side partials) — NOT an explode
    to (row × dim) — so the shuffle carries |labels| rows of 64 doubles.
    Serialized to CSV for the driver's canonicalizer."""
    emb = table(spark, sf_dir, "embeddings")
    avgs = [
        F.avg(F.col("embedding")[i]).alias(f"c{i}")
        for i in range(_CENTROID_DIM)
    ]
    agg = emb.groupBy("label").agg(
        F.count("*").alias("n_vectors"), *avgs
    )
    csv = F.array_join(
        F.array(
            *[
                stable_round(F.col(f"c{i}"), 6)
                .cast("decimal(12,6)")
                .cast("string")
                for i in range(_CENTROID_DIM)
            ]
        ),
        ",",
    )
    return agg.select("label", "n_vectors", csv.alias("centroid_csv"))


_COMPOSITION_ORACLE = f"""
WITH g AS (
  SELECT source, lang,
    CAST(count(*) AS BIGINT) AS n_docs,
    CAST(sum(len({_SQL_TOKS})) AS BIGINT) AS total_tokens,
    CAST(sum(length(text)) AS BIGINT) AS total_chars
  FROM documents GROUP BY source, lang
)
SELECT source, lang, n_docs, total_tokens, total_chars,
  {sql_stable_round(
      'total_tokens * 1.0 / (sum(total_tokens) OVER ())', 6)}
    AS token_share,
  {sql_stable_round('n_docs * 1.0 / (sum(n_docs) OVER ())', 6)}
    AS doc_share
FROM g
"""


@query("curation_corpus_composition", _COMPOSITION_ORACLE)
def curation_corpus_composition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition report — the input table of mixture weighting:
    per (source, language) document/token/byte counts and each cell's
    share of the whole corpus.

    Scale shape: one partial-aggregated (source, lang) rollup; the share
    denominators are an unpartitioned window over the already-tiny
    aggregate (|sources|×|langs| rows), not over the corpus."""
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    g = docs.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(token_count("text")).alias("total_tokens"),
        F.sum(F.length("text")).alias("total_chars"),
    )
    whole = Window.partitionBy()
    return g.select(
        "source", "lang", "n_docs", "total_tokens", "total_chars",
        stable_round(
            F.col("total_tokens") / F.sum("total_tokens").over(whole), 6
        ).alias("token_share"),
        stable_round(
            F.col("n_docs") / F.sum("n_docs").over(whole), 6
        ).alias("doc_share"),
    )


_QUANT_ORACLE = """
WITH q AS (
  -- upcast to double FIRST, like the Spark side, so every later op is
  -- float64 (DuckDB would otherwise do the scale math in float32)
  SELECT vec_id,
    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
  FROM embeddings
),
m AS (
  SELECT vec_id, dv,
    list_max(list_transform(dv, x -> abs(x))) AS amax
  FROM q
),
c AS (
  SELECT vec_id, dv, amax,
    list_transform(dv,
      x -> CAST(floor(x / (CASE WHEN amax = 0 THEN 1 ELSE amax END)
                      * 127 + 0.5) AS INT)) AS codes
  FROM m
)
SELECT vec_id,
  floor(amax * 1000000 + 0.5) / 1000000 AS scale_amax,
  CAST(list_max(codes) AS INT) AS code_max,
  CAST(list_min(codes) AS INT) AS code_min,
  floor(
    sqrt(list_sum(list_transform(range(1, len(codes) + 1),
      i -> pow(dv[i] - CAST(codes[i] AS DOUBLE)
               * (CASE WHEN amax = 0 THEN 1 ELSE amax END) / 127, 2)))
      / len(codes)) * 1000000 + 0.5) / 1000000 AS quant_rmse
FROM c
"""


@query("embedding_int8_quantization", _QUANT_ORACLE)
def embedding_int8_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization of the embedding column — the
    4× storage/IO lever for 100 TB embedding tables (store codes + one
    per-vector scale; dequantize = code · amax/127). Entirely built-in
    higher-order functions fused into the scan: no UDF, no shuffle beyond
    the scan itself. Reports the per-vector scale, code range (must stay
    within ±127), and dequantization RMSE.

    The float64 math (abs-max, scaled rounding, error fold) is replayed
    exactly in the DuckDB oracle — a hard check on a lossy-compression
    operator. embedding is float32 in parquet; both engines upcast the
    same values, so the per-element arithmetic is bit-identical."""
    emb = table(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    amax = F.array_max(F.transform(F.col("v"), lambda x: F.abs(x)))
    safe = F.when(F.col("amax") == 0, F.lit(1.0)).otherwise(F.col("amax"))
    codes = F.transform(
        F.col("v"),
        lambda x: F.floor(x / safe * 127 + F.lit(0.5)).cast("int"),
    )
    base = (
        emb.select("vec_id", v.alias("v"))
        .withColumn("amax", amax)
        .withColumn("codes", codes)
    )
    sq_err = F.aggregate(
        F.zip_with(
            "v",
            "codes",
            lambda x, c: F.pow(x - c.cast("double") * safe / 127, F.lit(2.0)),
        ),
        F.lit(0.0),
        lambda acc, e: acc + e,
    )
    return base.select(
        "vec_id",
        stable_round(F.col("amax"), 6).alias("scale_amax"),
        F.array_max("codes").cast("int").alias("code_max"),
        F.array_min("codes").cast("int").alias("code_min"),
        stable_round(
            F.sqrt(sq_err / F.size("codes")), 6
        ).alias("quant_rmse"),
    )


_SLIDING_ORACLE_CHUNKS = f"""
WITH w AS (
  SELECT doc_id, {_SQL_TOKS} AS ws FROM documents
),
c AS (
  SELECT doc_id,
    CASE WHEN len(ws) > 8 THEN
      list_transform(
        range(0, CAST(ceil((len(ws) - 8) / 4.0) AS INT) + 1),
        k -> array_to_string(ws[k*4+1 : k*4+8], ' '))
    ELSE [array_to_string(ws, ' ')] END AS chunks
  FROM w
)
SELECT doc_id,
  CAST(generate_subscripts(chunks, 1) - 1 AS INT) AS chunk_index,
  unnest(chunks) AS chunk,
  CAST(len(string_split(unnest(chunks), ' ')) AS INT) AS chunk_words
FROM c
"""


@query("text_sliding_chunks", _SLIDING_ORACLE_CHUNKS)
def text_sliding_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-ingestion chunking: overlapping 8-word windows every 4 words
    (consecutive chunks share half their context), exploded to one row
    per chunk with its position. Pure HOF windowing fused into the scan;
    the explode is the only row expansion."""
    from databricks_etl_pipelines_spark.functions.textfns import (
        sliding_chunks,
    )

    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.posexplode(sliding_chunks("text", 8, 4)).alias(
            "chunk_index", "chunk"
        ),
    ).select(
        "doc_id",
        F.col("chunk_index").cast("int"),
        "chunk",
        F.size(F.split("chunk", " ")).cast("int").alias("chunk_words"),
    )


_KANON_ORACLE = """
WITH g AS (
  SELECT c_mktsegment, c_nationkey, count(*) AS group_size
  FROM customer GROUP BY c_mktsegment, c_nationkey
)
SELECT
  CAST(count(*) AS BIGINT) AS n_groups,
  CAST(count(CASE WHEN group_size < 5 THEN 1 END) AS BIGINT)
    AS risky_groups,
  CAST(coalesce(sum(CASE WHEN group_size < 5 THEN group_size END), 0)
       AS BIGINT) AS risky_rows,
  CAST(min(group_size) AS BIGINT) AS min_group_size
FROM g
"""


@query("privacy_k_anonymity_audit", _KANON_ORACLE)
def privacy_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over quasi-identifiers (market segment × nation):
    how many equivalence classes fall below k=5, and how many rows they
    re-identify. The release-gating check that complements the PII
    mask/tokenize operators — one partial-aggregated rollup + a 1-row
    fold."""
    cust = table(spark, sf_dir, "customer")
    g = cust.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count("*").alias("group_size")
    )
    return g.agg(
        F.count("*").alias("n_groups"),
        F.count(F.when(F.col("group_size") < 5, 1)).alias("risky_groups"),
        F.coalesce(
            F.sum(F.when(F.col("group_size") < 5, F.col("group_size"))),
            F.lit(0),
        ).alias("risky_rows"),
        F.min("group_size").alias("min_group_size"),
    )


_LDIV_L = 3
_LDIV_BAND = 4000

_LDIV_ORACLE = f"""
WITH g AS (
  SELECT c_mktsegment, c_nationkey,
    CAST(floor(c_acctbal / {_LDIV_BAND}) AS BIGINT) AS band,
    CAST(count(*) AS BIGINT) AS n
  FROM customer GROUP BY 1, 2, 3
),
q AS (
  SELECT c_mktsegment, c_nationkey,
    CAST(count(*) AS BIGINT) AS l_distinct,
    CAST(sum(n) AS BIGINT) AS rows_in_group,
    CAST(max(n) AS BIGINT) AS top_band_rows
  FROM g GROUP BY 1, 2
)
SELECT
  CAST(count(*) AS BIGINT) AS n_groups,
  CAST(count(CASE WHEN l_distinct < {_LDIV_L} THEN 1 END) AS BIGINT)
    AS weak_groups,
  CAST(count(CASE WHEN l_distinct = 1 THEN 1 END) AS BIGINT)
    AS homogeneous_groups,
  CAST(coalesce(sum(CASE WHEN l_distinct < {_LDIV_L}
                    THEN rows_in_group END), 0) AS BIGINT)
    AS exposed_rows,
  CAST(min(l_distinct) AS BIGINT) AS min_l,
  floor(max(CAST(top_band_rows AS DOUBLE) / rows_in_group)
        * 1000000 + 0.5) / 1000000 AS worst_top_share
FROM q
"""


@query("privacy_l_diversity_audit", _LDIV_ORACLE)
def privacy_l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al., ICDE 2006) — the
    release gate k-anonymity misses: a k-anonymous group whose rows all
    share one SENSITIVE value still leaks it. Per quasi-identifier
    group (market segment × nation), the sensitive attribute is the
    account-balance band; the audit reports groups with fewer than l=3
    distinct bands, fully homogeneous groups, the rows they expose, and
    the worst single-band share (the homogeneity-attack success rate —
    an exact rational). Explicit floor() for the band on both engines
    (CAST(double AS BIGINT) rounds half-even in DuckDB, truncates in
    Spark).

    Scale shape: one (QI, band) partial-aggregated rollup, one QI
    rollup off it, one 1-row fold — no shuffle touches raw rows twice."""
    cust = table(spark, sf_dir, "customer")
    g = cust.groupBy(
        "c_mktsegment",
        "c_nationkey",
        F.floor(F.col("c_acctbal") / _LDIV_BAND)
        .cast("bigint")
        .alias("band"),
    ).agg(F.count("*").alias("n"))
    q = g.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count("*").alias("l_distinct"),
        F.sum("n").alias("rows_in_group"),
        F.max("n").alias("top_band_rows"),
    )
    return q.agg(
        F.count("*").alias("n_groups"),
        F.count(F.when(F.col("l_distinct") < _LDIV_L, 1)).alias(
            "weak_groups"
        ),
        F.count(F.when(F.col("l_distinct") == 1, 1)).alias(
            "homogeneous_groups"
        ),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("l_distinct") < _LDIV_L,
                    F.col("rows_in_group"),
                )
            ),
            F.lit(0),
        ).alias("exposed_rows"),
        F.min("l_distinct").alias("min_l"),
        stable_round(
            F.max(
                F.col("top_band_rows").cast("double")
                / F.col("rows_in_group")
            ),
            6,
        ).alias("worst_top_share"),
    )


# -- vocabulary build + integer encoding --------------------------------------

_VOCAB_SIZE = 20

_VOCAB_ENCODE_ORACLE = f"""
WITH words AS (
  SELECT doc_id, i AS pos, list_extract({_SQL_TOKS}, i) AS w
  FROM documents, unnest(generate_series(1, len({_SQL_TOKS}))) AS u(i)
),
vocab AS (
  SELECT w, CAST(row_number() OVER (ORDER BY count(*) DESC, w) AS BIGINT)
           AS token_id
  FROM words GROUP BY w
  QUALIFY token_id <= {_VOCAB_SIZE}
)
SELECT doc_id,
  CAST(count(*) AS BIGINT) AS n_tokens,
  CAST(sum(CASE WHEN v.token_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_oov,
  array_to_string(array_agg(coalesce(v.token_id, 0) ORDER BY pos), ',')
    AS token_ids
FROM words LEFT JOIN vocab v USING (w)
GROUP BY doc_id
"""


@query("text_vocab_encode", _VOCAB_ENCODE_ORACLE)
def text_vocab_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary build + integer encoding — tokenize-to-ids, the
    step between curation and sequence packing: rank words by global count
    (frequency desc, word asc — fully deterministic), keep the top-V as the
    vocabulary, re-encode every document as its ordered id sequence with 0
    for OOV.

    The distributed pattern is explode-with-position -> broadcast-join the
    vocabulary -> ORDER-PRESERVING re-assembly (collect_list of (pos, id)
    structs, array_sort, project the ids) — how any per-token transform
    rebuilds documents without ever sorting a whole partition. The
    vocabulary cap is a TakeOrderedAndProject (distributed per-partition
    top-V, driver merge), so the full distinct-word set — 1e8+ rows at
    corpus scale — never funnels through a one-partition global window;
    row_number then ranks only the bounded V-row head, and the vocabulary
    broadcasts.
    """
    docs = table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id",
        F.posexplode(F.split(F.trim("text"), r"\s+")).alias("pos0", "w"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "w")
    counts = words.groupBy("w").agg(F.count("*").alias("cnt"))
    head = counts.orderBy(F.desc("cnt"), F.asc("w")).limit(_VOCAB_SIZE)
    vocab = head.withColumn(
        "token_id",
        F.row_number()
        .over(Window.orderBy(F.desc("cnt"), F.asc("w")))
        .cast("bigint"),
    ).select("w", "token_id")
    encoded = words.join(F.broadcast(vocab), "w", "left").select(
        "doc_id",
        "pos",
        F.coalesce("token_id", F.lit(0)).cast("bigint").alias("tid"),
    )
    # id sequence serialized to csv: the harness compares scalar cells, and
    # a csv string is order-sensitive — exactly what an encoding check needs
    return encoded.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum((F.col("tid") == 0).cast("bigint")).alias("n_oov"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tid"))),
                lambda s: s.tid.cast("string"),
            ),
            ",",
        ).alias("token_ids"),
    )


# -- leakage-safe train/test split --------------------------------------------

# Cluster labels come from a transitive closure in SQL: reach(node, other)
# walks near-dup edges until fixpoint (UNION dedups, so it terminates), and
# min(other) per node is exactly the hash-min label the Spark connected-
# components operator converges to. O(cluster_size^2) closure rows — fine
# for near-dup clusters at any scale. Since r13 the edge relation is the
# shared PPJoin prefix-filter replay (_PPJOIN_PAIRS_CTES), not the r8
# brute-force all-pairs CTE, which lifts this oracle off the
# sf0.01-only list — it verifies at sf0.1 like its minhash sibling.
_LEAKAGE_SPLIT_ORACLE = f"""
WITH RECURSIVE prep AS (
  SELECT doc_id AS id, {_SQL_SHINGLES3} AS sh, len({_SQL_SHINGLES3}) AS ln
  FROM documents
),
{_PPJOIN_PAIRS_CTES},
undirected AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
),
reach(node, other) AS (
  SELECT u, u FROM undirected
  UNION
  SELECT r.node, e.v FROM reach r JOIN undirected e ON r.other = e.u
),
clusters AS (
  SELECT node, min(other) AS cluster_id FROM reach GROUP BY node
),
keyed AS (
  SELECT d.doc_id, d.source, d.lang,
         coalesce(c.cluster_id, d.doc_id) AS group_key
  FROM documents d LEFT JOIN clusters c ON d.doc_id = c.node
)
SELECT doc_id, source, lang, group_key,
  CASE WHEN list_reduce(
    list_prepend(CAST(0 AS BIGINT),
      list_transform(
        regexp_extract_all(md5(CAST(group_key AS VARCHAR) || ':42'), '.'),
        c -> CAST(ord(c) AS BIGINT))),
    (acc, c) -> (acc * 257 + c) % 2147483647
  ) % 1000000 < 100000 THEN 'test' ELSE 'train' END AS split
FROM keyed
"""


@query("curation_leakage_safe_split", _LEAKAGE_SPLIT_ORACLE)
def curation_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test split hashed by near-dup CLUSTER, not by document
    (operators/curation.py:leakage_safe_split): a paraphrase can never land
    on the opposite side of the eval boundary from its source. The oracle
    reproduces the EXACT assignment — n-gram Jaccard edges, a recursive-CTE
    transitive closure for the cluster labels, and the same cross-engine
    md5+rolling-hash bucket — so the differential check covers the whole
    composition, including the connected-components labels."""
    from databricks_etl_pipelines_spark.operators.curation import (
        leakage_safe_split,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id", "source", "lang", "text")
    out = leakage_safe_split(
        docs, "text", "doc_id", test_fraction=0.1, threshold=0.5, seed=42
    )
    return out.select("doc_id", "source", "lang", "group_key", "split")


# The SAME split driven by the 100 TB pair generator: banded MinHash with
# the cross-engine md5+Karp-Rabin family. The oracle swaps the brute-force
# Jaccard pair CTE for the full LSH replay (signature → bands → bucket cap
# → candidates → exact verify), then runs the identical transitive closure
# and split hash — so the SCALE path of leakage_safe_split, not just its
# exactness reference, is differentially tested end to end.
_LEAKAGE_SPLIT_MINHASH_ORACLE = f"""
WITH RECURSIVE xsrc AS (SELECT doc_id AS id, text FROM documents),
{_minhash_xengine_ctes('xsrc', 0.5)},
undirected AS (
  SELECT id_a AS u, id_b AS v FROM mh_pairs
  UNION ALL SELECT id_b, id_a FROM mh_pairs
),
reach(node, other) AS (
  SELECT u, u FROM undirected
  UNION
  SELECT r.node, e.v FROM reach r JOIN undirected e ON r.other = e.u
),
clusters AS (
  SELECT node, min(other) AS cluster_id FROM reach GROUP BY node
),
keyed AS (
  SELECT d.doc_id, d.source, d.lang,
         coalesce(c.cluster_id, d.doc_id) AS group_key
  FROM documents d LEFT JOIN clusters c ON d.doc_id = c.node
)
SELECT doc_id, source, lang, group_key,
  CASE WHEN list_reduce(
    list_prepend(CAST(0 AS BIGINT),
      list_transform(
        regexp_extract_all(md5(CAST(group_key AS VARCHAR) || ':42'), '.'),
        c -> CAST(ord(c) AS BIGINT))),
    (acc, c) -> (acc * 257 + c) % 2147483647
  ) % 1000000 < 100000 THEN 'test' ELSE 'train' END AS split
FROM keyed
"""


@query("curation_leakage_split_minhash", _LEAKAGE_SPLIT_MINHASH_ORACLE)
def curation_leakage_split_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """leakage_safe_split on its 100 TB pair generator (pair_fn =
    cross-engine banded MinHash-LSH): candidate generation is bounded by
    band-bucket co-occurrence instead of the true-pair count, and the
    oracle replays the ENTIRE composition — LSH pairs, connected
    components, cluster-hash split — value for value.

    Bench note: the oracle tax on this registration is now roughly NIL —
    since the cross-engine family switched to one base Karp-Rabin(md5)
    hash per shingle + affine permutations (Broder construction, round
    7), the replayable split runs in ~3.7 s warm at sf0.1 vs ~3.6 s for
    the identical split via the production xxhash64 family (round 6,
    with one md5 per (permutation, shingle), it was 10.5 s — a 2.8×
    win). A 100 TB deployment still runs the xxhash64 path (long-only
    hashing, no string materialization), same plan shape."""
    from databricks_etl_pipelines_spark.operators.curation import (
        leakage_safe_split,
    )

    def mh_pairs(df, text_col, id_col, threshold):
        return minhash_crossengine_pairs(
            df, text_col, id_col, num_perm=16, bands=4, threshold=threshold
        )

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", "text"
    )
    out = leakage_safe_split(
        docs, "text", "doc_id", test_fraction=0.1, threshold=0.5, seed=42,
        pair_fn=mh_pairs,
    )
    return out.select("doc_id", "source", "lang", "group_key", "split")


# -- benchmark decontamination (eval-set n-gram scrub) ------------------------

_DECON_ORACLE = f"""
WITH bench AS (
  SELECT DISTINCT unnest({_SQL_SHINGLES3}) AS ng
  FROM documents WHERE source = 'src0'
),
corpus AS (
  SELECT doc_id, {_SQL_SHINGLES3} AS sh
  FROM documents WHERE source <> 'src0'
),
hits AS (
  SELECT c.doc_id, CAST(count(*) AS BIGINT) AS bench_hits
  FROM (SELECT doc_id, unnest(sh) AS ng FROM corpus) c
  JOIN bench USING (ng)
  GROUP BY c.doc_id
)
SELECT corpus.doc_id,
  CAST(len(sh) AS BIGINT) AS n_ngrams,
  COALESCE(h.bench_hits, CAST(0 AS BIGINT)) AS bench_hits,
  COALESCE(h.bench_hits, 0) >= 5 AS contaminated
FROM corpus LEFT JOIN hits h USING (doc_id)
"""


@query("curation_decontaminate_benchmark", _DECON_ORACLE)
def curation_decontaminate_benchmark(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Eval-benchmark decontamination (operators/curation.py::
    decontaminate_report): src0 plays the held-out benchmark, the other
    19 sources are the training corpus, and every corpus doc is scored
    by DISTINCT shared word n-grams against the broadcast benchmark
    n-gram set. Real pipelines scrub on 13-grams with min_hits=1 (the
    GPT-3 / The Pile discipline); this registration uses (n=3,
    min_hits=5) because the synthetic docs are short — at sf0.01 that
    flags 91 of 475 corpus docs, so BOTH flag values carry oracle
    weight. Plan-pinned broadcast in tests: the corpus side never
    shuffles its n-grams."""
    from databricks_etl_pipelines_spark.operators.curation import (
        decontaminate_report,
    )

    docs = table(spark, sf_dir, "documents")
    report = decontaminate_report(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
        "text",
        "doc_id",
        ngram_n=3,
        min_hits=5,
    )
    return report.withColumnRenamed("id", "doc_id")


# -- cross-document repeated-span report (substring-dedup analog) -------------

_SPAN_N = 8

_DUP_SPANS_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {_SQL_TOKS} AS t FROM documents
),
grams AS (
  SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
         array_to_string(t[u.i:u.i+{_SPAN_N - 1}], ' ') AS g
  FROM toks, unnest(generate_series(1, len(t) - {_SPAN_N - 1})) AS u(i)
  WHERE len(t) >= {_SPAN_N}
),
dupg AS (
  SELECT g FROM (SELECT DISTINCT g, doc_id FROM grams)
  GROUP BY g HAVING count(*) >= 2
),
hits AS (SELECT doc_id, pos FROM grams JOIN dupg USING (g)),
dupcnt AS (SELECT doc_id, count(*) AS dup_ngrams FROM hits GROUP BY doc_id),
covered AS (
  SELECT doc_id, count(*) AS covered_tokens FROM (
    SELECT DISTINCT doc_id, v.p
    FROM hits, unnest(generate_series(pos, pos + {_SPAN_N - 1})) AS v(p)
  ) GROUP BY doc_id
)
SELECT toks.doc_id,
  CAST(len(t) AS BIGINT) AS n_tokens,
  COALESCE(dup_ngrams, 0) AS dup_ngrams,
  COALESCE(covered_tokens, 0) AS covered_tokens,
  {sql_stable_round('COALESCE(covered_tokens, 0) / len(t)', 6)} AS dup_fraction
FROM toks
LEFT JOIN dupcnt USING (doc_id)
LEFT JOIN covered USING (doc_id)
"""


@query("dedup_duplicate_spans", _DUP_SPANS_ORACLE)
def dedup_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-span detection at 8-token-window granularity — the
    relational analog of exact substring dedup (suffix-array method of Lee
    et al. 2022, re-expressed as a sliding-window groupBy; see
    operators/dedup.py:duplicated_span_report for the scale argument).
    Per doc: duplicated window positions, exact covered-token union, and
    the duplicated fraction a curation pass would threshold on."""
    from databricks_etl_pipelines_spark.operators.dedup import (
        duplicated_span_report,
    )

    docs = table(spark, sf_dir, "documents")
    return duplicated_span_report(docs, "text", "doc_id", n=_SPAN_N, min_docs=2)


# -- BPE tokenizer training + encoding (cross-engine, merge loop unrolled) ----

_BPE_MERGES = 8
_BPE_MAXW = 10_000


def _bpe_ctes(num_merges: int, max_words: int) -> str:
    """The WITH-chain replaying the whole BPE trainer: capped word freqs,
    char-wrapped dictionary, then one (pair-count, argmax, replace) CTE
    triple per merge step. See operators/bpe.py for the double-space
    replace trick that makes merge application engine-agnostic."""
    parts = [
        f"""w0 AS (
  SELECT w, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT unnest({_SQL_TOKS}) AS w FROM documents)
  GROUP BY w
  QUALIFY row_number() OVER (ORDER BY count(*) DESC, w) <= {max_words}
),
enc0 AS (
  SELECT w, freq,
    ' ' || array_to_string(regexp_extract_all(w, '.'), '  ') || ' ' AS s
  FROM w0
)"""
    ]
    for i in range(1, num_merges + 1):
        prev = f"enc{i - 1}"
        parts.append(
            f"""p{i} AS (
  SELECT l, r, CAST(sum(freq) AS BIGINT) AS cnt FROM (
    SELECT freq, list_extract(sy, u.j) AS l, list_extract(sy, u.j + 1) AS r
    FROM (SELECT freq, string_split_regex(trim(s), '\\s+') AS sy
          FROM {prev}) t,
         unnest(generate_series(1, len(sy) - 1)) AS u(j)
  ) GROUP BY l, r
),
b{i} AS (SELECT l, r, cnt FROM p{i} ORDER BY cnt DESC, l, r LIMIT 1),
enc{i} AS (
  SELECT w, freq,
    CASE WHEN b.l IS NULL THEN s ELSE
      replace(s, ' ' || b.l || '  ' || b.r || ' ', ' ' || b.l || b.r || ' ')
    END AS s
  FROM {prev} LEFT JOIN b{i} b ON TRUE
)"""
        )
    return ",\n".join(parts)


_BPE_TRAIN_ORACLE = "WITH " + _bpe_ctes(_BPE_MERGES, _BPE_MAXW) + "\n" + (
    "\nUNION ALL\n".join(
        f"SELECT {i} AS merge_rank, l AS left_sym, r AS right_sym,"
        f" cnt AS pair_count FROM b{i}"
        for i in range(1, _BPE_MERGES + 1)
    )
)

_BPE_ENCODE_ORACLE = (
    "WITH "
    + _bpe_ctes(_BPE_MERGES, _BPE_MAXW)
    + f""",
dict AS (
  SELECT w, CAST(len(string_split_regex(trim(s), '\\s+')) AS BIGINT) AS n_sym
  FROM enc{_BPE_MERGES}
),
docw AS (SELECT doc_id, unnest({_SQL_TOKS}) AS w FROM documents)
SELECT doc_id,
  CAST(count(*) AS BIGINT) AS n_words,
  CAST(sum(length(w)) AS BIGINT) AS n_chars,
  CAST(sum(coalesce(n_sym, greatest(1, length(w)))) AS BIGINT) AS n_bpe_tokens,
  {sql_stable_round('sum(length(w)) / sum(coalesce(n_sym, greatest(1, length(w))))', 6)}
    AS chars_per_token
FROM docw LEFT JOIN dict USING (w)
GROUP BY doc_id
"""
)


@query("text_bpe_train_merges", _BPE_TRAIN_ORACLE)
def text_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAIN a BPE tokenizer on the corpus (Sennrich et al. 2016):
    distributed word-frequency aggregate, then num_merges argmax-merge
    steps — each one dictionary-sized Spark job shipping exactly one row
    (the winning pair) to the driver. The oracle replays the ENTIRE
    training loop unrolled in SQL: same cap, same tie-break (count desc,
    pair lexicographic), same left-to-right merge application."""
    from databricks_etl_pipelines_spark.operators.bpe import (
        merge_table,
        train_bpe,
    )

    docs = table(spark, sf_dir, "documents")
    merges = train_bpe(
        docs, "text", num_merges=_BPE_MERGES, max_words=_BPE_MAXW
    )
    return merge_table(spark, merges)


@query("text_bpe_encode_stats", _BPE_ENCODE_ORACLE)
def text_bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENCODE the corpus with the trained merges: merges apply once per
    DISTINCT word in one literal-replace projection, then a dictionary
    join back to occurrences (dictionary-encoding — per-word work, not
    per-occurrence). Per doc: word/char/BPE-token counts and the
    chars-per-token compression the tokenizer achieves."""
    from databricks_etl_pipelines_spark.operators.bpe import (
        encode_stats,
        train_bpe,
        word_frequencies,
    )

    docs = table(spark, sf_dir, "documents")
    # one word-count for both passes: train_bpe caches it (caller-owned
    # lifecycle) and the encode dictionary reuses the cached frame
    # invocation-scoped pin (r15): a leaked persist would serve the next run
    wf = word_frequencies(docs, "text", _BPE_MAXW).transform(invocation_pin)
    merges = train_bpe(
        docs, "text", num_merges=_BPE_MERGES, max_words=_BPE_MAXW,
        word_freqs=wf,
    )
    return encode_stats(
        docs, "text", "doc_id", merges, max_words=_BPE_MAXW, word_freqs=wf
    )


# -- RAG chunk retrieval end-to-end: chunk -> hash-embed -> cosine top-k ------

_RAG_QUERY_TEXT = "spark query join table scan filter merge window batch sort"
_RAG_CHUNK, _RAG_STRIDE, _RAG_K = 16, 8, 20

_CHUNK_RETRIEVAL_ORACLE = f"""
WITH w AS (
  SELECT doc_id, {_SQL_TOKS} AS ws FROM documents
),
c AS (
  SELECT doc_id,
    CASE WHEN len(ws) > {_RAG_CHUNK} THEN
      list_transform(
        range(0, CAST(ceil((len(ws) - {_RAG_CHUNK}) / {_RAG_STRIDE}.0)
                      AS INT) + 1),
        k -> array_to_string(
               ws[k*{_RAG_STRIDE}+1 : k*{_RAG_STRIDE}+{_RAG_CHUNK}], ' '))
    ELSE [array_to_string(ws, ' ')] END AS chunks
  FROM w
),
allc AS (
  SELECT CAST(doc_id * 1000 + generate_subscripts(chunks, 1) - 1 AS BIGINT)
           AS id,
         unnest(chunks) AS ctext
  FROM c
  UNION ALL SELECT CAST(-1 AS BIGINT), '{_RAG_QUERY_TEXT}'
),
tok AS (
  SELECT id, unnest(string_split_regex(trim(ctext), '\\s+')) AS t FROM allc
),
hv AS (SELECT id, list_reduce(list_prepend(CAST(0 AS BIGINT),
  list_transform(regexp_extract_all(md5(t), '.'),
                 c -> CAST(ord(c) AS BIGINT))),
  (acc, c) -> (acc * 257 + c) % 2147483647) AS h FROM tok),
e AS (
  SELECT id, CAST(h % 64 AS INT) AS bucket,
    (CAST(floor(h / 64) AS BIGINT) % 2) * 2 - 1 AS sgn
  FROM hv
),
emb AS (
  SELECT id, bucket, CAST(sum(sgn) AS BIGINT) AS val
  FROM e GROUP BY id, bucket HAVING sum(sgn) <> 0
),
norms AS (
  SELECT id, CAST(sum(val * val) AS BIGINT) AS n2 FROM emb GROUP BY id
),
q AS (SELECT bucket, val AS qval FROM emb WHERE id = -1),
qn AS (SELECT n2 AS qn2 FROM norms WHERE id = -1),
dots AS (
  SELECT e.id, CAST(sum(e.val * q.qval) AS BIGINT) AS dot
  FROM emb e JOIN q USING (bucket) WHERE e.id <> -1 GROUP BY e.id
),
ranked AS (
  SELECT dots.id,
    floor(dot / (sqrt(CAST(n.n2 AS DOUBLE)) * sqrt(CAST(qn.qn2 AS DOUBLE)))
          * 1000000 + 0.5) / 1000000 AS cosine_sim
  FROM dots JOIN norms n ON dots.id = n.id CROSS JOIN qn
  ORDER BY cosine_sim DESC, dots.id
  LIMIT {_RAG_K}
)
SELECT id // 1000 AS doc_id, CAST(id % 1000 AS INT) AS chunk_index,
       cosine_sim
FROM ranked
"""


@query("similarity_chunk_retrieval", _CHUNK_RETRIEVAL_ORACLE)
def similarity_chunk_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full RAG retrieval path composed end-to-end: sliding-window
    chunking (16-token windows every 8) -> feature-hash each CHUNK ->
    cosine top-20 chunks for a literal query string, all relational and
    integer-exact until one rounded division — so chunking, embedding,
    similarity, and ranking replay value-for-value in SQL. The three
    pieces are independently oracle-checked; this checks their
    composition at retrieval granularity (chunks, not documents)."""
    from databricks_etl_pipelines_spark.functions.textfns import (
        sliding_chunks,
    )
    from databricks_etl_pipelines_spark.operators.similarity import (
        hash_embed_cosine_topk,
    )

    docs = table(spark, sf_dir, "documents")
    chunks = docs.select(
        "doc_id",
        F.posexplode(
            sliding_chunks("text", _RAG_CHUNK, _RAG_STRIDE)
        ).alias("ci", "ctext"),
    ).select(
        (F.col("doc_id") * 1000 + F.col("ci")).alias("chunk_id"), "ctext"
    )
    qrow = spark.createDataFrame(
        [(-1, _RAG_QUERY_TEXT)], "chunk_id long, ctext string"
    )
    out = hash_embed_cosine_topk(
        chunks.unionByName(qrow), "ctext", "chunk_id", query_id=-1, k=_RAG_K
    )
    return out.select(
        F.expr("chunk_id DIV 1000").alias("doc_id"),
        (F.col("chunk_id") % 1000).cast("int").alias("chunk_index"),
        "cosine_sim",
    )


# -- corpus statistics: Zipf-law fit over the word-frequency distribution ----

_ZIPF_TOPN = 1_000

_ZIPF_ORACLE = f"""
WITH wf AS (
  SELECT w, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT unnest({_SQL_TOKS}) AS w FROM documents)
  GROUP BY w
),
ranked AS (
  SELECT freq,
    CAST(row_number() OVER (ORDER BY freq DESC, w) AS BIGINT) AS rk
  FROM wf QUALIFY rk <= {_ZIPF_TOPN}
),
pts AS (SELECT ln(CAST(rk AS DOUBLE)) AS x, ln(CAST(freq AS DOUBLE)) AS y
        FROM ranked),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
    sum(x) AS sx, sum(y) AS sy, sum(x*x) AS sxx,
    sum(y*y) AS syy, sum(x*y) AS sxy
  FROM pts
)
SELECT n AS n_ranks,
  {sql_stable_round('(n*sxy - sx*sy) / (n*sxx - sx*sx)', 6)} AS zipf_slope,
  {sql_stable_round('(sy - ((n*sxy - sx*sy) / (n*sxx - sx*sx)) * sx) / n', 6)}
    AS zipf_intercept,
  {sql_stable_round(
      '((n*sxy - sx*sy) * (n*sxy - sx*sy))'
      ' / ((n*sxx - sx*sx) * (n*syy - sy*sy))', 6)} AS r_squared
FROM s
"""


@query("text_zipf_diagnostics", _ZIPF_ORACLE)
def text_zipf_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus word-frequency distribution: least-
    squares slope/intercept/R² of ln(freq) vs ln(rank) for the top ranks
    — the standard sanity check that a corpus has natural-language token
    statistics (slope ≈ −1) rather than generator artifacts. One
    distributed word count; the regression runs on SUMS over the (tiny)
    ranked head, so every float op has a fixed order in both engines."""
    from pyspark.sql.window import Window

    from databricks_etl_pipelines_spark.operators.bpe import word_frequencies

    wf = word_frequencies(table(spark, sf_dir, "documents"), "text",
                          max_words=_ZIPF_TOPN)
    rk = F.row_number().over(Window.orderBy(F.desc("freq"), F.asc("w")))
    pts = wf.withColumn("rk", rk.cast("bigint")).select(
        F.log(F.col("rk").cast("double")).alias("x"),
        F.log(F.col("freq").cast("double")).alias("y"),
    )
    s = pts.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    # nullif guards: a single-rank corpus zeroes the x-variance and a
    # uniform-frequency head zeroes the y-variance — ANSI mode would
    # raise where DuckDB's division already yields NULL
    slope = (n * sxy - sx * sy) / F.nullif(n * sxx - sx * sx, F.lit(0.0))
    return s.select(
        n.alias("n_ranks"),
        stable_round(slope, 6).alias("zipf_slope"),
        stable_round((sy - slope * sx) / n, 6).alias("zipf_intercept"),
        stable_round(
            ((n * sxy - sx * sy) * (n * sxy - sx * sy))
            / F.nullif(
                (n * sxx - sx * sx) * (n * syy - sy * sy), F.lit(0.0)
            ),
            6,
        ).alias("r_squared"),
    )


# -- multimodal retrieval: decode -> patch-mean embedding -> cosine top-k -----

_PATCH_CAP = 200  # bound the image set per slot; same predicate both sides

_PATCH_RETRIEVAL_ORACLE = f"""
WITH g AS (
  SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
  FROM documents WHERE doc_id < {_PATCH_CAP}
),
px AS (SELECT doc_id, w, h, unnest(range(0, w * h)) AS k FROM g),
p AS (
  SELECT doc_id,
    (2 * ((k % w) )) // w AS gx, (2 * (k // w)) // h AS gy,
    (doc_id * 7  + 3  * k) % 256 AS r,
    (doc_id * 13 + 5  * k) % 256 AS gc,
    (doc_id * 31 + 11 * k) % 256 AS b
  FROM px
),
patch AS (
  SELECT doc_id, CAST(gy * 2 + gx AS INT) AS patch_id,
    CAST(sum(r) AS BIGINT) AS sr, CAST(sum(gc) AS BIGINT) AS sg,
    CAST(sum(b) AS BIGINT) AS sb, CAST(count(*) AS BIGINT) AS c
  FROM p GROUP BY doc_id, gx, gy
),
emb AS (
  SELECT doc_id, patch_id * 3 + ch.i AS dim,
    (CASE ch.i WHEN 0 THEN sr WHEN 1 THEN sg ELSE sb END) * 1.0 / c AS val
  FROM patch, (SELECT unnest(range(0, 3)) AS i) AS ch
),
norms AS (SELECT doc_id, sum(val * val) AS n2 FROM emb GROUP BY doc_id),
q AS (SELECT dim, val AS qval FROM emb WHERE doc_id = 0),
qn AS (SELECT n2 AS qn2 FROM norms WHERE doc_id = 0),
dots AS (
  SELECT e.doc_id, sum(e.val * q.qval) AS dot
  FROM emb e JOIN q USING (dim) WHERE e.doc_id <> 0 GROUP BY e.doc_id
)
SELECT dots.doc_id,
  floor(dot / (sqrt(n.n2) * sqrt(qn.qn2)) * 1000000 + 0.5) / 1000000
    AS cosine_sim
FROM dots JOIN norms n ON dots.doc_id = n.doc_id CROSS JOIN qn
ORDER BY cosine_sim DESC, dots.doc_id
LIMIT 10
"""


@query("multimodal_patch_retrieval", _PATCH_RETRIEVAL_ORACLE)
def multimodal_patch_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image similarity end to end: synthesize BMPs, REAL decode
    (pure-numpy parser), 2×2 patch-mean RGB embeddings via Arrow
    mapInPandas, then relational cosine top-10 against image 0. The
    closed-form pixel functions let the oracle recompute every patch
    mean, norm, and ranking without any decoder — so the whole
    decode→featurize→retrieve path is value-checked."""
    from databricks_etl_pipelines_spark.functions.numeric import stable_round
    from databricks_etl_pipelines_spark.operators.multimodal import (
        decode_image,
        patch_embeddings,
        synthetic_bmp_images,
    )

    ids = table(spark, sf_dir, "documents").where(
        F.col("doc_id") < _PATCH_CAP
    ).select("doc_id")
    # invocation-scoped pin (r15): decode+featurize feeds norms, the
    # query row and the dot pass; a leaked persist would also serve the
    # next invocation through plan matching
    emb = patch_embeddings(
        decode_image(synthetic_bmp_images(ids)), grid=2
    ).transform(invocation_pin)
    norms = emb.groupBy("doc_id").agg(
        F.sum(F.col("val") * F.col("val")).alias("n2")
    )
    q = emb.filter(F.col("doc_id") == 0).select(
        "dim", F.col("val").alias("qval")
    )
    qn = norms.filter(F.col("doc_id") == 0).select(F.col("n2").alias("qn2"))
    dots = (
        emb.filter(F.col("doc_id") != 0)
        .join(F.broadcast(q), "dim")
        .groupBy("doc_id")
        .agg(F.sum(F.col("val") * F.col("qval")).alias("dot"))
    )
    sim = stable_round(
        F.col("dot") / (F.sqrt(F.col("n2")) * F.sqrt(F.col("qn2"))), 6
    )
    return (
        dots.join(norms, "doc_id")
        .crossJoin(F.broadcast(qn))
        .select("doc_id", sim.alias("cosine_sim"))
        .orderBy(F.desc("cosine_sim"), "doc_id")
        .limit(10)
    )


# -- deterministic text augmentation: seeded word dropout ---------------------
# Augmentation must be REPRODUCIBLE to be debuggable: each (doc, position)
# decides its own fate via the cross-engine md5 rolling hash, so the same
# seed always drops the same words — and the oracle replays the exact
# augmented text, md5-pinned.

_AUG_SEED = 42
_AUG_DROP_PCT = 10  # drop ~10% of token positions

_AUG_ORACLE = f"""
WITH w AS (
  SELECT doc_id, u.i AS pos, list_extract({_SQL_TOKS}, u.i) AS tok
  FROM documents,
       unnest(generate_series(1, len({_SQL_TOKS}))) AS u(i)
),
keyed AS (
  SELECT doc_id, pos, tok,
    list_reduce(list_prepend(CAST(0 AS BIGINT),
      list_transform(regexp_extract_all(
        md5(CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR)
            || ':{_AUG_SEED}'), '.'),
        c -> CAST(ord(c) AS BIGINT))),
      (acc, c) -> (acc * 257 + c) % 2147483647) % 100 AS bkt
  FROM w
)
SELECT doc_id,
  CAST(count(*) AS BIGINT) AS n_tokens,
  CAST(sum(CASE WHEN bkt < {_AUG_DROP_PCT} THEN 1 ELSE 0 END) AS BIGINT)
    AS dropped,
  md5(string_agg(tok, ' ' ORDER BY pos)
      FILTER (WHERE bkt >= {_AUG_DROP_PCT})) AS augmented_md5
FROM keyed GROUP BY doc_id
"""


@query("text_augment_dropout", _AUG_ORACLE)
def text_augment_dropout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded word-dropout augmentation: every (doc, position) hashes to a
    0-99 bucket and positions under the drop percentage are removed; the
    surviving tokens reassemble in order (md5-pinned cross-engine).
    Positional explode → hash → filter → ordered re-agg — the same
    order-preserving reassembly as text_vocab_encode, fused in one
    window-free pass."""
    from databricks_etl_pipelines_spark.functions.textfns import (
        fingerprint_rolling,
    )

    docs = table(spark, sf_dir, "documents")
    w = docs.select(
        "doc_id",
        F.posexplode(F.split(F.trim(F.col("text")), r"\s+")).alias(
            "pos0", "tok"
        ),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    bkt = (
        fingerprint_rolling(
            F.md5(
                F.concat(
                    F.col("doc_id").cast("string"), F.lit(":"),
                    F.col("pos").cast("string"), F.lit(f":{_AUG_SEED}"),
                )
            )
        )
        % 100
    )
    keyed = w.withColumn("bkt", bkt)
    kept = F.when(F.col("bkt") >= _AUG_DROP_PCT, F.struct("pos", "tok"))
    return keyed.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        F.sum((F.col("bkt") < _AUG_DROP_PCT).cast("long")).alias("dropped"),
        # all-dropped edge: SQL's FILTERed string_agg yields NULL, so the
        # md5 must too (array_join would give md5("") instead)
        F.when(
            F.sum((F.col("bkt") >= _AUG_DROP_PCT).cast("long")) > 0,
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(kept)), lambda s: s["tok"]
                    ),
                    " ",
                )
            ),
        ).alias("augmented_md5"),
    )


# -- t-closeness audit (the release gate after k-anonymity + l-diversity) -----

# Earth-mover's distance for an ORDERED sensitive attribute over m bands
# is the mean absolute cumulative difference: EMD(P,Q) =
# Σ_i |Σ_{j≤i}(p_j − q_j)| / (m−1)  (Li/Li/Venkatasubramanian, ICDE 2007,
# eq. for numerical attributes). Kept EXACT by clearing denominators:
# p_j − q_j = (c_gj·N − C_j·n_g) / (n_g·N), so the cumulative terms and
# their |·|-sum are INTEGERS; the t = 0.2 violation test is the integer
# cross-multiplication 5·num > n_g·N·(m−1) — no float ever decides a
# flag. Int64 headroom: num ≤ m·n_g·N ≤ m·N², so N up to ~6·10⁸ rows at
# m ≈ 25 bands; beyond that, reduce the fraction per group (gcd) or
# compute per-partition partial cumsums on the band-dense grid.
_TCLOSE_BAND = _LDIV_BAND
_TCLOSE_ORACLE = f"""
WITH b AS (
  SELECT c_mktsegment, c_nationkey,
    CAST(floor(c_acctbal / {_TCLOSE_BAND}) AS BIGINT) AS band,
    CAST(count(*) AS BIGINT) AS c
  FROM customer GROUP BY 1, 2, 3
),
grp AS (
  SELECT c_mktsegment, c_nationkey, CAST(sum(c) AS BIGINT) AS n_g
  FROM b GROUP BY 1, 2
),
gbands AS (
  SELECT band, CAST(sum(c) AS BIGINT) AS cg FROM b GROUP BY 1
),
scal AS (
  SELECT CAST(sum(cg) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS m
  FROM gbands
),
grid AS (
  SELECT g.c_mktsegment, g.c_nationkey, g.n_g, gl.band, gl.cg,
    coalesce(bb.c, 0) AS c0
  FROM grp g CROSS JOIN gbands gl
  LEFT JOIN b bb ON bb.c_mktsegment = g.c_mktsegment
    AND bb.c_nationkey = g.c_nationkey AND bb.band = gl.band
),
cum AS (
  SELECT c_mktsegment, c_nationkey, n_g, s.n, s.m,
    SUM(c0 * s.n - cg * n_g) OVER (
      PARTITION BY c_mktsegment, c_nationkey ORDER BY band) AS cd
  FROM grid, scal s
),
per AS (
  SELECT c_mktsegment, c_nationkey, n_g, n, m,
    CAST(SUM(abs(cd)) AS BIGINT) AS num
  FROM cum GROUP BY 1, 2, 3, 4, 5
)
SELECT CAST(count(*) AS BIGINT) AS n_groups,
  CAST(count(CASE WHEN 5 * num > n_g * n * (m - 1) THEN 1 END) AS BIGINT)
    AS violating_groups,
  CAST(coalesce(sum(CASE WHEN 5 * num > n_g * n * (m - 1) THEN n_g END),
                0) AS BIGINT) AS exposed_rows,
  floor(max(CAST(num AS DOUBLE) / NULLIF(n_g * n * (m - 1), 0))
        * 1000000 + 0.5) / 1000000 AS worst_emd
FROM per
"""


@query("privacy_t_closeness_audit", _TCLOSE_ORACLE)
def privacy_t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (t = 0.2) over the same quasi-identifier groups
    and ordered sensitive bands as the l-diversity audit — the release
    gate l-diversity misses: a group can hold l distinct bands yet
    still skew heavily toward one tail of the global distribution,
    leaking the sensitive attribute probabilistically. EMD between each
    group's band distribution and the global one is computed EXACTLY on
    integers (cleared denominators; see oracle comment), the t-test is
    an integer cross-multiplication, and only the reported worst_emd
    takes one float division at the end.

    Scale shape: one hash-agg to (QI, band) counts; the global band
    relation (m rows, m bounded by the attribute's range/band-width —
    4 here) broadcasts onto the group relation for the dense grid; the
    cumulative window is partitioned per QI group over ≤ m rows. No
    partitionless window, no corpus-sized collect; completes the
    k-anonymity → l-diversity → t-closeness gate family."""
    from pyspark.sql import Window

    cust = table(spark, sf_dir, "customer")
    b = (
        cust.select(
            "c_mktsegment",
            "c_nationkey",
            F.floor(F.col("c_acctbal") / _TCLOSE_BAND)
            .cast("long")
            .alias("band"),
        )
        .groupBy("c_mktsegment", "c_nationkey", "band")
        .agg(F.count("*").alias("c"))
    )
    # b feeds four consumers (grp, global bands, scalars, grid join);
    # materialize the BOUNDED (QI × band) count relation once on the
    # driver (≤ segments·nations·bands ≈ 500 rows — the audit's state
    # floor) and rebuild it as a local frame: exactly ONE corpus scan,
    # and unlike persist() no cache entry outlives the query
    b = spark.createDataFrame(b.collect(), b.schema)
    grp = b.groupBy("c_mktsegment", "c_nationkey").agg(
        F.sum("c").alias("n_g")
    )
    glob = b.groupBy("band").agg(F.sum("c").alias("cg"))
    scal = glob.agg(
        F.sum("cg").alias("n"), F.count("*").alias("m")
    )
    # m-row band dimension (m = 4 here, bounded by range/band-width) and
    # the two corpus scalars broadcast onto the group relation
    grid = (
        grp.crossJoin(F.broadcast(glob))
        .crossJoin(F.broadcast(scal))
        .join(
            b.withColumnRenamed("c", "c0"),
            ["c_mktsegment", "c_nationkey", "band"],
            "left",
        )
        .withColumn("c0", F.coalesce(F.col("c0"), F.lit(0)))
    )
    w = Window.partitionBy("c_mktsegment", "c_nationkey").orderBy("band")
    cum = grid.withColumn(
        "cd",
        F.sum(F.col("c0") * F.col("n") - F.col("cg") * F.col("n_g")).over(w),
    )
    per = cum.groupBy(
        "c_mktsegment", "c_nationkey", "n_g", "n", "m"
    ).agg(F.sum(F.abs("cd")).alias("num"))
    den = F.col("n_g") * F.col("n") * (F.col("m") - F.lit(1))
    viol = (F.lit(5) * F.col("num")) > den
    return per.agg(
        F.count("*").alias("n_groups"),
        F.count(F.when(viol, 1)).alias("violating_groups"),
        F.coalesce(
            F.sum(F.when(viol, F.col("n_g"))), F.lit(0)
        ).alias("exposed_rows"),
        stable_round(
            F.max(
                F.col("num").cast("double")
                / F.nullif(den, F.lit(0)).cast("double")
            ),
            6,
        ).alias("worst_emd"),
    )


# -- n-gram novelty (corpus-order freshness signal) ----------------------------

# Per-document novelty: the fraction of a document's DISTINCT 3-gram
# shingles whose FIRST corpus occurrence (min doc_id — ingestion order)
# is this document. A streaming-free restatement of the "how much new
# text does each arriving doc contribute" curation signal (the batch
# twin of the incremental dedup gates): low-novelty docs are rephrasings
# of earlier corpus content even when no single pairwise Jaccard trips
# the near-dup threshold. Reference scope: slysik/databricks-etl-pipelines
# has no text ops at all (02_Silver_Cleanse_PII.py stops at column
# masking); this extends the LLM-curation family.
#
# Scale shape: explode is linear in corpus tokens; the first-seen
# relation is ONE hash-agg (map-side partial min) on the shingle key;
# the join back is shingle-key-partitioned on both sides so AQE reuses
# the aggregation exchange for the probe side, and the final per-doc
# rollup is a second bounded hash-agg. No windows, no driver state; at
# 100 TB the shingle relation shards by hash like any token index.
# Determinism: novelty_ratio is ONE division of two exact BIGINTs
# (correctly-rounded in IEEE on both engines — no cross-row double sums,
# no lattice needed); shingling reuses the _SQL_SHINGLES3 fragment
# already proven byte-identical to distinct_shingles() in
# text_token_stats.
_NOVELTY_ORACLE = f"""
WITH s AS (
  SELECT doc_id, unnest({_SQL_SHINGLES3}) AS sh FROM documents
),
first_seen AS (
  SELECT sh, min(doc_id) AS first_doc FROM s GROUP BY sh
),
per_doc AS (
  SELECT s.doc_id,
    CAST(count(*) AS BIGINT) AS n_shingles,
    CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
      AS BIGINT) AS novel_shingles
  FROM s JOIN first_seen f ON s.sh = f.sh
  GROUP BY s.doc_id
)
SELECT doc_id, n_shingles, novel_shingles,
  CAST(novel_shingles AS DOUBLE) / n_shingles AS novelty_ratio
FROM per_doc
"""


@query("text_ngram_novelty", _NOVELTY_ORACLE)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc fraction of distinct 3-gram shingles first seen (by
    min doc_id) in that doc — the batch corpus-freshness signal. See
    the oracle comment for the scale/determinism argument."""
    from databricks_etl_pipelines_spark.functions.textfns import (
        distinct_shingles,
    )

    docs = table(spark, sf_dir, "documents")
    s = docs.select(
        "doc_id", F.explode(distinct_shingles("text", 3)).alias("sh")
    )
    first_seen = s.groupBy("sh").agg(F.min("doc_id").alias("first_doc"))
    return (
        s.join(first_seen, "sh")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1)
                .otherwise(0)
            ).alias("novel_shingles"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "novel_shingles",
            (
                F.col("novel_shingles").cast("double")
                / F.col("n_shingles")
            ).alias("novelty_ratio"),
        )
    )


# -- MMR diversity re-ranking (retrieval family) --------------------------------

# Maximal Marginal Relevance (Carbonell & Goldstein 1998) over the
# hash-embedding cosine top-12 of query doc 0: greedily pick 5 results
# maximizing λ·rel − (1−λ)·max-sim-to-selected at dyadic λ = 1/2 — the
# diversity cut that keeps near-duplicates from crowding a RAG context.
# Cross-engine exactness: relevance and pairwise sims are the family's
# exact-BIGINT dot/norm ratios rounded to 1e-6 BEFORE any comparison
# (round-before-rank); each greedy score is (rel − maxsim)/2 — one
# subtraction + exact halving of rounded doubles; every argmax breaks
# ties by smallest id; the full candidate×candidate matrix materializes
# cosine-0 rows for disjoint-support pairs so max-over-selected never
# sees a missing row. The oracle replays the ENTIRE trajectory — the
# candidate cut, the 12×12 matrix, and all 5 greedy steps unrolled as
# chained argmax-LIMIT-1 CTEs (multiply-referenced CTEs MATERIALIZED
# per the trap ledger); the Spark side runs the same greedy over the
# bounded collected matrix driver-side. Scale: candidate cut is
# standard top-n retrieval; everything after runs on ≤ n_cands²
# bounded rows.
_MMR_STEPS = "".join(
    f""",
r{s} AS (
  SELECT c.id, c.rel,
    (c.rel - max(p.sim)) / CAST(2 AS DOUBLE) AS mmr_score
  FROM cands c
  JOIN psim p ON p.a = c.id AND p.b IN (SELECT id FROM sel{s - 1})
  WHERE c.id NOT IN (SELECT id FROM sel{s - 1})
  GROUP BY c.id, c.rel
),
p{s} AS MATERIALIZED (
  SELECT id, rel, mmr_score FROM r{s} ORDER BY mmr_score DESC, id LIMIT 1
),
sel{s} AS MATERIALIZED (
  SELECT id FROM sel{s - 1} UNION ALL SELECT id FROM p{s}
)"""
    for s in range(2, 6)
)

_MMR_ORACLE = (
    _HASH_EMBED_CTE.replace("emb AS (", "emb AS MATERIALIZED (")
    + """,
norms AS MATERIALIZED (
  SELECT id, CAST(sum(val * val) AS BIGINT) AS n2 FROM emb GROUP BY id
),
q AS (SELECT bucket, val AS qval FROM emb WHERE id = 0),
qn AS (SELECT n2 AS qn2 FROM norms WHERE id = 0),
cands AS MATERIALIZED (
  SELECT d.id,
    floor(d.dot / (sqrt(CAST(n.n2 AS DOUBLE)) * sqrt(CAST(qn.qn2 AS DOUBLE)))
          * 1000000 + 0.5) / 1000000 AS rel
  FROM (
    SELECT e.id, CAST(sum(e.val * q.qval) AS BIGINT) AS dot
    FROM emb e JOIN q USING (bucket) WHERE e.id <> 0 GROUP BY e.id
  ) d JOIN norms n ON d.id = n.id CROSS JOIN qn
  ORDER BY rel DESC, d.id
  LIMIT 12
),
ce AS MATERIALIZED (
  SELECT e.id, e.bucket, e.val FROM emb e JOIN cands c ON e.id = c.id
),
dots_ab AS (
  SELECT a.id AS a, b.id AS b, CAST(sum(a.val * b.val) AS BIGINT) AS dot
  FROM ce a JOIN ce b ON a.bucket = b.bucket AND a.id <> b.id
  GROUP BY a.id, b.id
),
psim AS MATERIALIZED (
  SELECT ca.id AS a, cb.id AS b,
    coalesce(
      floor(d.dot
            / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
            * 1000000 + 0.5) / 1000000, CAST(0 AS DOUBLE)) AS sim
  FROM cands ca JOIN cands cb ON ca.id <> cb.id
  LEFT JOIN dots_ab d ON d.a = ca.id AND d.b = cb.id
  JOIN norms na ON na.id = ca.id
  JOIN norms nb ON nb.id = cb.id
),
p1 AS MATERIALIZED (
  SELECT id, rel, rel / CAST(2 AS DOUBLE) AS mmr_score
  FROM cands ORDER BY mmr_score DESC, id LIMIT 1
),
sel1 AS MATERIALIZED (SELECT id FROM p1)"""
    + _MMR_STEPS
    + """
SELECT 1 AS rank, id AS doc_id, rel, mmr_score FROM p1
UNION ALL SELECT 2, id, rel, mmr_score FROM p2
UNION ALL SELECT 3, id, rel, mmr_score FROM p3
UNION ALL SELECT 4, id, rel, mmr_score FROM p4
UNION ALL SELECT 5, id, rel, mmr_score FROM p5
"""
)


@query("similarity_mmr_rerank", _MMR_ORACLE)
def similarity_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversity re-ranking of the hash-embedding cosine top-12 for
    query doc 0 (λ = 1/2, k = 5) — the greedy relevance-vs-redundancy
    cut a RAG pipeline applies before filling a context window. The
    entire greedy trajectory (candidate cut, 12×12 rounded similarity
    matrix, five argmax steps with smallest-id ties) replays in SQL;
    see operators/similarity.py::mmr_rerank_topk for the scale shape
    (bounded relations after the standard top-n retrieval cut)."""
    from databricks_etl_pipelines_spark.operators.similarity import (
        mmr_rerank_topk,
    )

    docs = table(spark, sf_dir, "documents")
    return mmr_rerank_topk(
        docs, "text", "doc_id", query_id=0, n_cands=12, k=5
    )


# -- Kendall tau between the two BM25 rankings (RBO's correlation sibling) ------

# Where RBO weights the TOP of the two rankings (and tolerates
# non-overlap), Kendall tau asks a different question on the docs BOTH
# rankings retrieved: how consistently do they ORDER the shared set?
# Rank pairs come from the same two top-20 rankings as
# text_rbo_rankings (b = 0.75 vs b = 0); ranks are row_numbers
# (distinct — no ties), so tau is the plain (C − D) / (m(m−1)/2) over
# the ≤ 190 pairs of the ≤ 20 joined docs — all exact integers until
# one final division, nullif-guarded for m < 2. Everything downstream
# of the two TakeOrderedAndProject caps runs on bounded rows.
_KENDALL_ORACLE = _BM25_PREFIX + f""",
sa AS (
  SELECT p.doc_id,
    {" + ".join(_bm25_term_sql(t) for t in _BM25_TERMS)} AS score
  FROM piv p, stats s, idf
),
a AS (
  SELECT doc_id, row_number() OVER (
    ORDER BY {sql_stable_round('score', 6)} DESC, doc_id) AS ra
  FROM sa
  QUALIFY ra <= {_RBO_K}
),
sb AS (
  SELECT p.doc_id,
    {" + ".join(_bm25_term_b0_sql(t) for t in _BM25_TERMS)} AS score
  FROM piv p, idf
),
b AS (
  SELECT doc_id, row_number() OVER (
    ORDER BY {sql_stable_round('score', 6)} DESC, doc_id) AS rb
  FROM sb
  QUALIFY rb <= {_RBO_K}
),
j AS (SELECT doc_id, ra, rb FROM a JOIN b USING (doc_id)),
pairs AS (
  SELECT
    CASE WHEN (x.ra - y.ra) * (x.rb - y.rb) > 0 THEN 1 ELSE 0 END AS conc,
    CASE WHEN (x.ra - y.ra) * (x.rb - y.rb) < 0 THEN 1 ELSE 0 END AS disc
  FROM j x JOIN j y ON x.doc_id < y.doc_id
),
ps AS (
  SELECT CAST(coalesce(sum(conc), 0) AS BIGINT) AS c,
    CAST(coalesce(sum(disc), 0) AS BIGINT) AS d
  FROM pairs
),
mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM j)
SELECT mm.m AS n_common, ps.c AS n_concordant, ps.d AS n_discordant,
  CAST(2 * (ps.c - ps.d) AS DOUBLE)
    / nullif(CAST(mm.m * (mm.m - 1) AS DOUBLE), 0) AS kendall_tau
FROM mm CROSS JOIN ps
"""


@query("text_kendall_rankings", _KENDALL_ORACLE)
def text_kendall_rankings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau between the BM25 top-20 and its b = 0
    no-length-norm arm over the docs both retrieved — the
    order-consistency complement of text_rbo_rankings (RBO scores
    top-weighted overlap; tau scores pairwise ordering agreement on
    the shared set). Exact concordant/discordant counts over the
    bounded joined pairs; one final nullif-guarded division — and
    ALWAYS one output row: disjoint rankings (possible under corpus
    replication, caught by the r11c scale probe) report n_common with
    NULL tau instead of vanishing."""
    from pyspark.sql import Window

    # bounded partitionless windows: both inputs are ≤ k-row top-k caps
    a = (
        _bm25_scored(spark, sf_dir, _BM25_B)
        .orderBy(F.desc("score_bm25"), "doc_id")
        .limit(_RBO_K)
    )
    a = a.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("score_bm25"), "doc_id"))
        .alias("ra"),
    )
    b = (
        _bm25_scored(spark, sf_dir, 0.0)
        .orderBy(F.desc("score_bm25"), "doc_id")
        .limit(_RBO_K)
    )
    b = b.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("score_bm25"), "doc_id"))
        .alias("rb"),
    )
    j = a.join(b, "doc_id")
    x = j.select(
        F.col("doc_id").alias("dx"),
        F.col("ra").alias("rax"),
        F.col("rb").alias("rbx"),
    )
    y = j.select(
        F.col("doc_id").alias("dy"),
        F.col("ra").alias("ray"),
        F.col("rb").alias("rby"),
    )
    sgn = (F.col("rax") - F.col("ray")) * (F.col("rbx") - F.col("rby"))
    pairs = x.join(y, F.col("dx") < F.col("dy")).select(
        F.when(sgn > 0, 1).otherwise(0).alias("conc"),
        F.when(sgn < 0, 1).otherwise(0).alias("disc"),
    )
    mm = j.agg(F.count("*").alias("m"))
    ps = pairs.agg(
        F.coalesce(F.sum("conc"), F.lit(0)).alias("n_concordant"),
        F.coalesce(F.sum("disc"), F.lit(0)).alias("n_discordant"),
    )
    return (
        mm.crossJoin(F.broadcast(ps))
        .selectExpr(
            "m AS n_common",
            "n_concordant",
            "n_discordant",
            "CAST(2 * (n_concordant - n_discordant) AS DOUBLE)"
            " / nullif(CAST(m * (m - 1) AS DOUBLE), 0) AS kendall_tau",
        )
    )


# -- Neyman-allocation stratified sampling --------------------------------------

# Design-based optimal sampling (Neyman 1934): a fixed doc budget B is
# split across strata proportional to N_h·S_h — high-variance strata
# get proportionally more of the budget than plain proportional
# allocation gives them, which is what minimizes the variance of the
# corpus-level estimate. The upgrade over curation_stratified_sample's
# fixed fractions: the fractions are COMPUTED from the data's own
# dispersion. Determinism end to end: S_h derives from exact sums
# (Σt int64, Σt² decimal/HUGEINT) in identical float sequences; the
# allocation weight is LATTICE-quantized (q_h = floor(N·S·100 + 0.5))
# before the cross-stratum integer sum (the chi-square rule), and
# allocation itself is the EXACT cap-aware WATERFILL: sort strata by
# the saturation ratio r_h = N_h/q_h ascending (NULLS LAST — ONE IEEE
# division as sort key, tie-broken by source; the division only orders,
# all allocation arithmetic stays integer); the saturated set is a
# PREFIX of this order (classic result: smallest cap-to-weight ratios
# fill first), detected by the running-AND of the per-position test
# q_h·(B′ − C_{h−1}) ≥ N_h·(Q − P_{h−1}) ∧ q_h > 0 over EXCLUSIVE
# prefix sums C/P of (N, q) — the cross products are DECIMAL/HUGEINT
# (N·Q ≈ 1e27 at 1e10 docs/stratum outgrows int64). Saturated strata
# take their full N_h; the rest split the residual budget
# B_r = B′ − ΣN_sat proportionally to q_h by BIGINT division
# (headroom: B_r·q_h ≤ 200·1e15 < 2^63) with the floor shortfall
# R = B_r − Σ base (0 ≤ R < #non-saturated when Q_r > 0, since
# Σ rem_h = R·Q_r) assigned by the LARGEST-REMAINDER rule — +1 to the
# R non-saturated strata ranked by (rem DESC, source ASC), a total
# order. B′ = min(B, Σ_{q_h>0} N_h) is the budget clamped to the
# capacity of positively-weighted strata, so Σ n_h = B′ EXACTLY, ALWAYS
# (when Q > 0): either the waterfill leaves Q_r > 0 and the remainder
# rule lands the residual exactly, or it exhausts every weighted
# stratum with B_r = 0. A non-saturated stratum's top-up never breaches
# its cap (real share < N_h strictly ⇒ floor ≤ N_h − 1 ⇒ +1 ≤ N_h);
# the final min(n, na) belt never binds. Single-doc strata have no
# variance and a zero base (coalesce, documented) but stay eligible
# for a remainder-0 top-up like any stratum; an ALL-degenerate corpus
# (every stratum constant → Q = 0) keeps every allocation 0 — the
# qt > 0 guard stops the residual from being sprayed over strata that
# earned nothing. Selection is the cross-engine md5 rolling
# hash of (doc_id, seed 57) ranked per stratum (ties by doc_id), keep
# rank ≤ n_h — the oracle reproduces the EXACT kept set, evidenced by
# the selected doc-id and token checksums. The rank window is the
# standard per-stratum distributed sort.
_NEYMAN_B = 200

_NEYMAN_ORACLE = f"""
WITH t AS (
  SELECT doc_id, source, CAST(len({_SQL_TOKS}) AS BIGINT) AS nt,
    list_reduce(
      list_prepend(CAST(0 AS BIGINT),
        list_transform(
          regexp_extract_all(md5(CAST(doc_id AS VARCHAR) || ':57'), '.'),
          c -> CAST(ord(c) AS BIGINT))),
      (acc, c) -> (acc * 257 + c) % 2147483647
    ) % 1000000 AS bkt
  FROM documents
),
s AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n,
    CAST(sum(nt) AS BIGINT) AS st, sum(nt * nt) AS sq
  FROM t GROUP BY source
),
w AS (
  SELECT source, n,
    sqrt((CAST(sq AS DOUBLE)
          - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / CAST(n AS DOUBLE))
         / nullif(CAST(n AS DOUBLE) - CAST(1 AS DOUBLE), 0)) AS sdev
  FROM s
),
q AS (
  SELECT source, n, sdev,
    coalesce(CAST(floor(CAST(n AS DOUBLE) * sdev * 100 + 0.5) AS BIGINT),
             0) AS qh
  FROM w
),
tot AS (
  SELECT CAST(sum(qh) AS BIGINT) AS qt,
    CAST(least({_NEYMAN_B},
               coalesce(sum(CASE WHEN qh > 0 THEN n END), 0)) AS BIGINT)
      AS bb
  FROM q
),
ord AS (
  SELECT q.source, q.n, q.sdev, q.qh, tot.qt, tot.bb,
    CASE WHEN q.qh > 0
      THEN CAST(q.n AS DOUBLE) / CAST(q.qh AS DOUBLE) END AS ratio,
    coalesce(CAST(sum(q.n) OVER w_prev AS BIGINT), 0) AS cn_prev,
    coalesce(CAST(sum(q.qh) OVER w_prev AS BIGINT), 0) AS cq_prev
  FROM q, tot
  WINDOW w_prev AS (
    ORDER BY CASE WHEN q.qh > 0
               THEN CAST(q.n AS DOUBLE) / CAST(q.qh AS DOUBLE) END
             ASC NULLS LAST, q.source
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
sat AS (
  SELECT o.*,
    min(CASE WHEN o.qh > 0
              AND CAST(o.qh AS HUGEINT) * (o.bb - o.cn_prev)
                  >= CAST(o.n AS HUGEINT) * (o.qt - o.cq_prev)
         THEN 1 ELSE 0 END)
      OVER (ORDER BY o.ratio ASC NULLS LAST, o.source
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS is_sat
  FROM ord o
),
grp AS (
  SELECT coalesce(CAST(sum(CASE WHEN is_sat = 1 THEN n END) AS BIGINT), 0)
      AS satn,
    coalesce(CAST(sum(CASE WHEN is_sat = 1 THEN qh END) AS BIGINT), 0)
      AS satq
  FROM sat
),
base AS (
  SELECT s.source, s.n, s.sdev, s.qt, s.is_sat,
    (s.bb - g.satn) AS br,
    CASE WHEN s.is_sat = 1 THEN CAST(0 AS BIGINT)
      ELSE coalesce(((s.bb - g.satn) * s.qh)
                    // nullif(s.qt - g.satq, 0), 0) END AS nb,
    CASE WHEN s.is_sat = 1 THEN CAST(0 AS BIGINT)
      ELSE coalesce(((s.bb - g.satn) * s.qh)
                    % nullif(s.qt - g.satq, 0), 0) END AS rem
  FROM sat s, grp g
),
resid AS (
  SELECT CAST(max(br)
              - sum(CASE WHEN is_sat = 0 THEN nb ELSE 0 END) AS BIGINT)
    AS r
  FROM base
),
topped AS (
  SELECT b.source, b.n, b.sdev,
    CASE WHEN b.is_sat = 1 THEN b.n
      ELSE b.nb + CASE WHEN b.qt > 0
                   AND row_number() OVER (PARTITION BY b.is_sat
                                          ORDER BY b.rem DESC, b.source)
                       <= resid.r
              THEN 1 ELSE 0 END END AS na
  FROM base b, resid
),
alloc AS (
  SELECT source, n, sdev,
    CASE WHEN n < na THEN n ELSE na END AS nh
  FROM topped
),
ranked AS (
  SELECT t.source, t.doc_id, t.nt,
    row_number() OVER (PARTITION BY t.source ORDER BY t.bkt, t.doc_id)
      AS rk
  FROM t
),
sel AS (
  SELECT r.source, CAST(count(*) AS BIGINT) AS n_selected,
    CAST(sum(r.doc_id) AS BIGINT) AS sel_id_sum,
    CAST(sum(r.nt) AS BIGINT) AS sel_tok_sum
  FROM ranked r JOIN alloc a ON r.source = a.source
  WHERE r.rk <= a.nh
  GROUP BY r.source
)
SELECT a.source, a.n AS n_docs,
  floor(coalesce(a.sdev, CAST(0 AS DOUBLE)) * 1000000 + 0.5) / 1000000
    AS stddev_tokens,
  a.nh AS alloc_budget,
  coalesce(sel.n_selected, 0) AS n_selected,
  coalesce(sel.sel_id_sum, 0) AS sel_id_sum,
  coalesce(sel.sel_tok_sum, 0) AS sel_tok_sum
FROM alloc a LEFT JOIN sel ON a.source = sel.source
"""


@query("curation_neyman_allocation", _NEYMAN_ORACLE)
def curation_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-allocation stratified sampling: a 200-doc budget split
    across sources proportional to N_h·S_h (token-count dispersion) by
    the exact CAP-AWARE WATERFILL — strata whose proportional share
    exceeds their size saturate at N_h (a prefix of the cap-to-weight
    ratio order), the rest share the residual with a largest-remainder
    top-up — so the allocations sum EXACTLY to min(budget, capacity of
    positively-weighted strata), then a deterministic hash-rank
    selection of exactly that many docs per stratum — the
    variance-optimal upgrade of fixed-fraction sampling, with the EXACT
    kept set evidenced by per-stratum id and token checksums. See the
    oracle comment for the lattice-quantized allocation and integer
    determinism."""
    from databricks_etl_pipelines_spark.functions.numeric import (
        stable_round,
    )
    from databricks_etl_pipelines_spark.functions.textfns import (
        fingerprint_rolling,
        token_count,
    )
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "source",
        token_count("text").alias("nt"),
        (
            fingerprint_rolling(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":57")))
            )
            % 1000000
        ).alias("bkt"),
    )
    s = t.groupBy("source").agg(
        F.count("*").alias("n"),
        F.sum("nt").alias("st"),
        F.sum((F.col("nt") * F.col("nt")).cast("decimal(38,0)")).alias("sq"),
    )
    w = s.selectExpr(
        "source",
        "n",
        "sqrt((CAST(sq AS DOUBLE)"
        "  - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / CAST(n AS DOUBLE))"
        " / nullif(CAST(n AS DOUBLE) - CAST(1 AS DOUBLE), 0)) AS sdev",
    )
    q = w.selectExpr(
        "source",
        "n",
        "sdev",
        "coalesce(CAST(floor(CAST(n AS DOUBLE) * sdev * 100 + 0.5)"
        " AS BIGINT), 0) AS qh",
    )
    tot = q.agg(
        F.sum("qh").cast("long").alias("qt"),
        F.least(
            F.lit(_NEYMAN_B).cast("long"),
            F.coalesce(
                F.sum(F.when(F.col("qh") > 0, F.col("n"))), F.lit(0)
            ).cast("long"),
        ).alias("bb"),
    )
    # the waterfill / largest-remainder windows all run over the STRATA
    # relation (one row per source — broadcast-small at any corpus
    # size), so the unpartitioned windows are bounded by design
    w_prev = Window.orderBy(
        F.asc_nulls_last("ratio"), "source"
    ).rowsBetween(Window.unboundedPreceding, -1)
    w_run = Window.orderBy(
        F.asc_nulls_last("ratio"), "source"
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sat_flag = F.when(
        (F.col("qh") > 0)
        & (
            F.col("qh").cast("decimal(38,0)")
            * (F.col("bb") - F.col("cn_prev"))
            >= F.col("n").cast("decimal(38,0)")
            * (F.col("qt") - F.col("cq_prev"))
        ),
        1,
    ).otherwise(0)
    sat = (
        q.crossJoin(F.broadcast(tot))
        .withColumn(
            "ratio",
            F.when(
                F.col("qh") > 0,
                F.col("n").cast("double") / F.col("qh").cast("double"),
            ),
        )
        .withColumn(
            "cn_prev",
            F.coalesce(F.sum("n").over(w_prev), F.lit(0)).cast("long"),
        )
        .withColumn(
            "cq_prev",
            F.coalesce(F.sum("qh").over(w_prev), F.lit(0)).cast("long"),
        )
        .withColumn("is_sat", F.min(sat_flag).over(w_run))
    )
    grp = sat.agg(
        F.coalesce(
            F.sum(F.when(F.col("is_sat") == 1, F.col("n"))), F.lit(0)
        )
        .cast("long")
        .alias("satn"),
        F.coalesce(
            F.sum(F.when(F.col("is_sat") == 1, F.col("qh"))), F.lit(0)
        )
        .cast("long")
        .alias("satq"),
    )
    base = sat.crossJoin(F.broadcast(grp)).selectExpr(
        "source",
        "n",
        "sdev",
        "qt",
        "is_sat",
        "(bb - satn) AS br",
        "CASE WHEN is_sat = 1 THEN CAST(0 AS BIGINT)"
        " ELSE coalesce(((bb - satn) * qh) div nullif(qt - satq, 0), 0)"
        " END AS nb",
        "CASE WHEN is_sat = 1 THEN CAST(0 AS BIGINT)"
        " ELSE coalesce(((bb - satn) * qh) % nullif(qt - satq, 0), 0)"
        " END AS rem",
    )
    resid = base.agg(
        (
            F.max("br")
            - F.sum(
                F.when(F.col("is_sat") == 0, F.col("nb")).otherwise(
                    F.lit(0)
                )
            )
        )
        .cast("long")
        .alias("r")
    )
    topped = (
        base.crossJoin(F.broadcast(resid))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("is_sat").orderBy(
                    F.col("rem").desc(), F.col("source")
                )
            ),
        )
        .selectExpr(
            "source",
            "n",
            "sdev",
            "CASE WHEN is_sat = 1 THEN n"
            " ELSE nb + CASE WHEN qt > 0 AND rk <= r THEN 1 ELSE 0 END"
            " END AS na",
        )
    )
    alloc = topped.selectExpr(
        "source",
        "n",
        "sdev",
        "CASE WHEN n < na THEN n ELSE na END AS nh",
    )
    ranked = t.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("source").orderBy("bkt", "doc_id")
        ),
    )
    sel = (
        ranked.join(
            F.broadcast(alloc.select("source", "nh")), "source"
        )
        .filter(F.col("rk") <= F.col("nh"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_selected"),
            F.sum("doc_id").alias("sel_id_sum"),
            F.sum("nt").alias("sel_tok_sum"),
        )
    )
    return (
        alloc.join(F.broadcast(sel), "source", "left")
        .select(
            "source",
            F.col("n").alias("n_docs"),
            stable_round(
                F.coalesce(F.col("sdev"), F.lit(0.0)), 6
            ).alias("stddev_tokens"),
            F.col("nh").alias("alloc_budget"),
            F.coalesce(F.col("n_selected"), F.lit(0)).alias("n_selected"),
            F.coalesce(F.col("sel_id_sum"), F.lit(0)).alias("sel_id_sum"),
            F.coalesce(F.col("sel_tok_sum"), F.lit(0)).alias(
                "sel_tok_sum"
            ),
        )
    )
