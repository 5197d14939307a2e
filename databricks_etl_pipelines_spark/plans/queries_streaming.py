"""Streaming queries, differentially tested by draining bounded streams.

availableNow + memory sink makes a streaming computation terminate with a
deterministic result equal to the batch equivalent, so tumbling/sliding
windows and foreachBatch-MERGE are oracle-checkable; session windows are
verified through the batch-identical ``session_window`` with a lag/cumsum
sessionization oracle (the classic SQL re-expression).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from databricks_etl_pipelines_spark.catalog import query
from databricks_etl_pipelines_spark.functions.numeric import stable_round
from databricks_etl_pipelines_spark.sources import table
from databricks_etl_pipelines_spark.sources.managed_table import ManagedTable
from databricks_etl_pipelines_spark.sources.scratch import scratch_dir
from databricks_etl_pipelines_spark.streaming.structured import (
    await_drained,
    drain_to_memory,
    foreach_batch_merge,
    session_window_stats,
    sliding_window_counts,
    streaming_dedup,
    streaming_events,
    tumbling_window_counts,
)

# -- tumbling window over a drained stream -------------------------------------

_TUMBLING_ORACLE = """
SELECT
  date_trunc('hour', ts) AS window_start,
  date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
  event_type,
  count(*) AS event_count,
  floor(sum("value") * 100 + 0.5) / 100 AS total_value
FROM events
GROUP BY 1, 2, 3
"""


@query("streaming_tumbling_hourly", _TUMBLING_ORACLE)
def streaming_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = streaming_events(spark, sf_dir)
    windowed = tumbling_window_counts(stream)
    # hour × event-type lattice state — bounded at any corpus scale
    result = drain_to_memory(windowed, "complete", bounded_state=True)
    return result.select(
        "window_start",
        "window_end",
        "event_type",
        "event_count",
        stable_round(F.col("total_value"), 2).alias("total_value"),
    )


# -- sliding window --------------------------------------------------------------

_SLIDING_ORACLE = """
WITH starts AS (
  SELECT unnest([
    time_bucket(INTERVAL '30 minutes', ts),
    time_bucket(INTERVAL '30 minutes', ts) - INTERVAL 30 MINUTE
  ]) AS window_start
  FROM events
)
SELECT window_start, window_start + INTERVAL 1 HOUR AS window_end,
       count(*) AS event_count
FROM starts
GROUP BY 1, 2
"""


@query("streaming_sliding_window", _SLIDING_ORACLE)
def streaming_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = streaming_events(spark, sf_dir)
    windowed = sliding_window_counts(stream)
    # 30-minute window-start lattice state — bounded at any corpus scale
    return drain_to_memory(windowed, "complete", bounded_state=True)


# -- session windows (batch-identical operator, classic sessionization oracle) ---

_SESSION_ORACLE = """
WITH flagged AS (
  SELECT user_id, ts,
    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
              > INTERVAL 5 MINUTE
           OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         THEN 1 ELSE 0 END AS new_session
  FROM events
),
sessions AS (
  SELECT user_id, ts,
    sum(new_session) OVER (
      PARTITION BY user_id ORDER BY ts
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) AS session_id
  FROM flagged
)
SELECT user_id, min(ts) AS session_start, count(*) AS n_events
FROM sessions
GROUP BY user_id, session_id
"""


@query("streaming_session_window", _SESSION_ORACLE)
def streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return session_window_stats(ev)


# -- streaming dedup ---------------------------------------------------------------

_SDEDUP_ORACLE = """
SELECT DISTINCT user_id, event_type FROM events
"""


@query("streaming_dedup_keys", _SDEDUP_ORACLE)
def streaming_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = streaming_events(spark, sf_dir)
    deduped = streaming_dedup(stream, ["user_id", "event_type"])
    return drain_to_memory(deduped, "append")


# -- foreachBatch MERGE end-to-end ---------------------------------------------------

_FBMERGE_ORACLE = """
SELECT
  count(*) AS row_count,
  count(DISTINCT user_id) AS unique_users,
  floor(sum("value") * 100 + 0.5) / 100 AS total_value
FROM events
"""


@query("streaming_foreachbatch_merge", _FBMERGE_ORACLE)
def streaming_foreachbatch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = streaming_events(spark, sf_dir)
    tmp = scratch_dir("fb_merge_")  # outlives this call → lazy result
    target = ManagedTable(f"{tmp}/events_merged")
    q = foreach_batch_merge(
        stream, target, ["event_id"], checkpoint_dir=f"{tmp}/ckpt"
    )
    await_drained(q, 300)
    return target.read(spark).agg(
        F.count("*").alias("row_count"),
        F.countDistinct("user_id").alias("unique_users"),
        stable_round(F.sum("value"), 2).alias("total_value"),
    )


# -- stream-stream interval join -----------------------------------------------

_SSJOIN_ORACLE = """
SELECT
  c.user_id,
  c.event_id AS l_event_id,
  c.ts AS l_ts,
  e.event_id AS r_event_id,
  e.ts AS r_ts,
  date_diff('microsecond', c.ts, e.ts) / 1000000.0 AS lag_seconds
FROM events c
JOIN events e
  ON c.user_id = e.user_id
 AND e.ts >= c.ts
 AND e.ts <= c.ts + INTERVAL 10 MINUTE
WHERE c.event_type = 'click' AND e.event_type = 'error'
"""


@query("streaming_stream_stream_join", _SSJOIN_ORACLE)
def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with event-time interval bound + watermarks
    on both sides (the state-evictable join shape). Drained bounded, the
    result equals the batch interval join — which the oracle computes."""
    from databricks_etl_pipelines_spark.streaming.structured import (
        stream_stream_interval_join,
    )

    clicks = streaming_events(spark, sf_dir).filter(
        F.col("event_type") == "click"
    )
    errors = streaming_events(spark, sf_dir).filter(
        F.col("event_type") == "error"
    )
    joined = stream_stream_interval_join(
        clicks, errors, "user_id", within="10 minutes"
    )
    return drain_to_memory(joined, "append")


# -- custom stateful operator (applyInPandasWithState) -------------------------

_STATEFUL_ORACLE = """
SELECT user_id,
  CAST(count(*) AS BIGINT) AS events_total,
  round(sum("value"), 2) AS value_total
FROM events
GROUP BY user_id
"""


@query("streaming_stateful_totals", _STATEFUL_ORACLE)
def streaming_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary per-key state across micro-batches: after draining the
    whole stream, each user's final state must equal the batch groupBy —
    which is exactly what the oracle computes."""
    from databricks_etl_pipelines_spark.streaming.structured import (
        stateful_user_totals,
    )

    stream = streaming_events(spark, sf_dir)
    tmp = scratch_dir("stateful_")  # outlives this call → lazy result
    out_dir = f"{tmp}/out"
    q = (
        stateful_user_totals(stream)
        .writeStream.foreachBatch(
            lambda df, _id: df.write.mode("append").parquet(out_dir)
        )
        .option("checkpointLocation", f"{tmp}/ckpt")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    await_drained(q, 300)
    emitted = spark.read.parquet(out_dir)
    # keep each key's final (largest) state emission
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("events_total"))
    return (
        emitted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id", "events_total",
            stable_round(F.col("value_total"), 2).alias("value_total"),
        )
    )


# -- stream-static join (dimension enrichment, stateless) ----------------------

_EVENT_DIM = [
    ("view", "engagement", 1.0),
    ("click", "engagement", 2.0),
    ("purchase", "conversion", 10.0),
    ("signup", "conversion", 5.0),
    ("error", "reliability", 0.0),
]

_STREAM_STATIC_ORACLE = """
SELECT
  CASE event_type
    WHEN 'view' THEN 'engagement' WHEN 'click' THEN 'engagement'
    WHEN 'purchase' THEN 'conversion' WHEN 'signup' THEN 'conversion'
    ELSE 'reliability' END AS category,
  CAST(count(*) AS BIGINT) AS event_count,
  floor(sum("value" * CASE event_type
    WHEN 'view' THEN 1.0 WHEN 'click' THEN 2.0 WHEN 'purchase' THEN 10.0
    WHEN 'signup' THEN 5.0 ELSE 0.0 END) * 100 + 0.5) / 100
    AS weighted_value
FROM events
GROUP BY 1
"""


@query("streaming_stream_static_join", _STREAM_STATIC_ORACLE)
def streaming_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension enrichment: each micro-batch broadcast-hash-
    joins against a batch dim table (STATELESS — no watermark or join
    state, unlike stream-stream joins; the static side is re-resolvable
    per batch, which is how slowly-changing dims work in production).
    Drained with availableNow, the result equals the batch join — which is
    exactly what the oracle asserts."""
    from databricks_etl_pipelines_spark.streaming.structured import (
        drain_to_memory,
        streaming_events,
    )

    stream = streaming_events(spark, sf_dir)
    dim = spark.createDataFrame(
        _EVENT_DIM, "event_type string, category string, weight double"
    )
    enriched = stream.join(F.broadcast(dim), "event_type")
    agg = enriched.groupBy("category").agg(
        F.count("*").alias("event_count"),
        F.sum(F.col("value") * F.col("weight")).alias("wv"),
    )
    # per-category lattice state — bounded by the dim's cardinality
    result = drain_to_memory(agg, "complete", bounded_state=True)
    return result.select(
        "category",
        "event_count",
        stable_round(F.col("wv"), 2).alias("weighted_value"),
    )


# -- streaming curation funnel (continuous corpus ingest) ----------------------

# Oracle: over one availableNow drain of the whole documents table the
# accepted set is exactly "quality-gated docs, min doc_id per normalized
# text hash" — the batch re-expression of first-wins streaming admission.
def _curation_ingest_oracle() -> str:
    from databricks_etl_pipelines_spark.plans.queries_mixture import (
        _SQL_QUALITY,
    )

    return f"""
WITH q AS (
  SELECT doc_id, source, lang, n_chars,
         CAST({_SQL_QUALITY} AS BIGINT) AS quality,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS text_hash
  FROM documents
  WHERE CAST({_SQL_QUALITY} AS BIGINT) >= 90
)
SELECT q.doc_id, q.source, q.lang, q.n_chars, q.quality, q.text_hash
FROM q
JOIN (
  SELECT text_hash, min(doc_id) AS doc_id FROM q GROUP BY text_hash
) k ON q.text_hash = k.text_hash AND q.doc_id = k.doc_id
"""


@query("streaming_curation_ingest", _curation_ingest_oracle())
def streaming_curation_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming curation funnel drained over the documents feed: quality
    gate -> per-batch exact dedup -> content-hash anti-join against the
    accepted corpus -> append (streaming/structured.py:curation_ingest).
    One availableNow drain admits exactly the batch-funnel keeper set,
    which is what the oracle asserts; the multi-batch first-wins semantics
    and replay idempotence are pinned by pytest. min_quality=90 splits the
    rubric's bimodal 80/100 distribution on this data, so the gate
    verifiably drops ~40% (50 would be vacuous)."""
    from databricks_etl_pipelines_spark.operators.curation import (
        quality_score,
    )
    from databricks_etl_pipelines_spark.streaming.structured import (
        curation_ingest,
        streaming_documents,
    )

    stream = streaming_documents(spark, sf_dir).withColumn(
        "quality", quality_score("text").cast("bigint")
    )
    accepted = ManagedTable(scratch_dir("curated_docs_"))
    q = curation_ingest(
        stream, accepted, scratch_dir("curated_ckpt_"), min_quality=90
    )
    await_drained(q, 300)
    return accepted.read(spark).select(
        "doc_id", "source", "lang", "n_chars", "quality", "text_hash"
    )


@query("streaming_curation_neardup")
def streaming_curation_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup streaming admission
    (streaming/structured.py:curation_ingest_neardup): the curation funnel
    with the persisted MinHash corpus index screening each batch for
    paraphrased re-crawls of already-accepted documents. Rows-only (LSH
    band hashes are engine-seeded); the multi-batch paraphrase-rejection
    semantics and replay idempotence are pytest-pinned, and the underlying
    index recall has its own planted-case tests."""
    from databricks_etl_pipelines_spark.operators.curation import (
        quality_score,
    )
    from databricks_etl_pipelines_spark.streaming.structured import (
        curation_ingest_neardup,
        streaming_documents,
    )

    stream = streaming_documents(spark, sf_dir).withColumn(
        "quality", quality_score("text").cast("bigint")
    )
    accepted = ManagedTable(scratch_dir("curated_nd_docs_"))
    q = curation_ingest_neardup(
        stream,
        accepted,
        scratch_dir("curated_nd_index_"),
        scratch_dir("curated_nd_ckpt_"),
        min_quality=90,
    )
    await_drained(q, 300)
    return accepted.read(spark).select(
        "doc_id", "source", "lang", "n_chars", "quality", "text_hash"
    )


# -- streaming near-dup admission under a HARD cross-engine oracle -------------

_ND_XE_BATCHES = 3
_ND_XE_THRESHOLD = 0.5


def _write_batched_feed(slices, prefix: str) -> str:
    """Write slice DataFrames as a deterministic micro-batch feed: one
    parquet FILE per slice (coalesce(1)), named batch-<n>.parquet with
    STRICTLY INCREASING mtimes — Spark's file source orders by
    modification time, so a reader with maxFilesPerTrigger=1 drains
    them as exactly these micro-batches in exactly this order. This
    invariant (one part file, batch-N naming, mtime stamping) is shared
    by every deterministic-feed oracle; keep it in one place."""
    import glob
    import os
    import shutil
    import time

    src = scratch_dir(f"{prefix}feed_")
    base = time.time()
    for b, sl in enumerate(slices):
        tmp = scratch_dir(f"{prefix}slice{b}_")
        sl.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dst = os.path.join(src, f"batch-{b}.parquet")
        shutil.copy(part, dst)
        os.utime(dst, (base + b, base + b))
    return src


def _three_batch_documents_feed(spark: SparkSession, sf_dir: str) -> str:
    """documents written as 3 parquet files, batch b = rows with
    ``doc_id % 3 == b``, mtimes strictly increasing — so a file stream
    with maxFilesPerTrigger=1 drains them as 3 DETERMINISTIC micro-batches
    (Spark's file source orders by modification time). Deterministic batch
    membership is what lets a SQL oracle replay per-batch admission."""
    docs = table(spark, sf_dir, "documents")
    return _write_batched_feed(
        [
            docs.filter(F.col("doc_id") % _ND_XE_BATCHES == b)
            for b in range(_ND_XE_BATCHES)
        ],
        "nd_xe_",
    )


def _neardup_xengine_oracle() -> str:
    """Full SQL replay of ``curation_ingest_neardup(family="crossengine")``
    over the deterministic 3-batch feed: for each batch, in arrival order —
    quality gate → within-batch exact dedup (min id per normalized hash) →
    hash anti-join vs accepted → in-batch banded MinHash-LSH (16 perms /
    4 bands / bucket cap 200, base-hash+affine permutations, exact-Jaccard
    verify, drop each pair's greater id) → persisted-index screen (corpus-
    side bucket cap, batch×accepted band collisions, exact-Jaccard verify)
    → union survivors into the accepted set. Band/signature rows are pure
    per-doc functions, so they're computed ONCE (xbands) and each batch
    step filters them to the ids the operator would actually sign."""
    from databricks_etl_pipelines_spark.plans.queries_llm import (
        _SQL_AFFINE,
        _SQL_BASE_HASH,
        _SQL_SHINGLES3,
    )
    from databricks_etl_pipelines_spark.plans.queries_mixture import (
        _SQL_QUALITY,
    )

    n = _ND_XE_BATCHES
    thr = _ND_XE_THRESHOLD
    parts = [
        f"""gate AS MATERIALIZED (
  SELECT doc_id, source, lang, n_chars,
         CAST({_SQL_QUALITY} AS BIGINT) AS quality,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
           AS text_hash,
         CAST(doc_id % {n} AS INT) AS batch_id,
         text
  FROM documents
  WHERE CAST({_SQL_QUALITY} AS BIGINT) >= 90
),
ek AS MATERIALIZED (
  SELECT g.* FROM gate g
  JOIN (SELECT batch_id, text_hash, min(doc_id) AS doc_id
        FROM gate GROUP BY batch_id, text_hash) k
    USING (batch_id, text_hash, doc_id)
),
xsh AS MATERIALIZED (SELECT doc_id AS id, {_SQL_SHINGLES3} AS sh FROM ek),
xbase AS (
  SELECT id, {_SQL_BASE_HASH} AS h
  FROM (SELECT id, unnest(sh) AS s FROM xsh)
),
xhs AS (
  SELECT id, i, min({_SQL_AFFINE}) AS sig
  FROM xbase, (SELECT unnest(range(16)) AS i) AS perms
  GROUP BY id, i
),
xbands AS MATERIALIZED (
  SELECT id, CAST(i // 4 AS INT) AS band_id,
    string_agg(CAST(sig AS VARCHAR), ',' ORDER BY i) AS band_key
  FROM xhs GROUP BY id, i // 4
),
acc0 AS MATERIALIZED (SELECT * FROM ek WHERE 1 = 0)"""
    ]
    for b in range(n):
        parts.append(
            f"""first{b} AS MATERIALIZED (
  SELECT e.* FROM ek e
  WHERE e.batch_id = {b}
    AND NOT EXISTS (SELECT 1 FROM acc{b} a WHERE a.text_hash = e.text_hash)
),
fb{b} AS MATERIALIZED (
  SELECT x.id, x.band_id, x.band_key
  FROM xbands x JOIN first{b} f ON x.id = f.doc_id
),
okin{b} AS (
  SELECT band_id, band_key FROM fb{b}
  GROUP BY band_id, band_key HAVING count(*) <= 200
),
candin{b} AS (
  SELECT DISTINCT a.id AS id_a, b2.id AS id_b
  FROM fb{b} a
  JOIN okin{b} USING (band_id, band_key)
  JOIN fb{b} b2
    ON a.band_id = b2.band_id AND a.band_key = b2.band_key
  WHERE a.id < b2.id
),
losers{b} AS MATERIALIZED (
  SELECT DISTINCT c.id_b FROM candin{b} c
  JOIN xsh sa ON sa.id = c.id_a
  JOIN xsh sb ON sb.id = c.id_b
  WHERE len(list_intersect(sa.sh, sb.sh)) * 1.0
      / len(list_distinct(list_concat(sa.sh, sb.sh))) >= {thr}
),
surv{b} AS MATERIALIZED (
  SELECT f.* FROM first{b} f
  WHERE NOT EXISTS (SELECT 1 FROM losers{b} l WHERE l.id_b = f.doc_id)
),
cb{b} AS MATERIALIZED (
  SELECT x.id, x.band_id, x.band_key
  FROM xbands x JOIN acc{b} a ON x.id = a.doc_id
),
okx{b} AS (
  SELECT band_id, band_key FROM cb{b}
  GROUP BY band_id, band_key HAVING count(*) <= 200
),
matched{b} AS MATERIALIZED (
  SELECT DISTINCT nb.id AS new_id
  FROM (SELECT x.id, x.band_id, x.band_key
        FROM xbands x JOIN surv{b} s ON x.id = s.doc_id) nb
  JOIN okx{b} USING (band_id, band_key)
  JOIN cb{b} c
    ON nb.band_id = c.band_id AND nb.band_key = c.band_key
  JOIN xsh sn ON sn.id = nb.id
  JOIN xsh sc ON sc.id = c.id
  WHERE len(list_intersect(sn.sh, sc.sh)) * 1.0
      / len(list_distinct(list_concat(sn.sh, sc.sh))) >= {thr}
),
acc{b + 1} AS MATERIALIZED (
  SELECT * FROM acc{b}
  UNION ALL
  SELECT s.* FROM surv{b} s
  WHERE NOT EXISTS (SELECT 1 FROM matched{b} m WHERE m.new_id = s.doc_id)
)"""
        )
    ctes = ",\n".join(parts)
    return (
        f"WITH {ctes}\n"
        f"SELECT doc_id, source, lang, n_chars, quality, text_hash "
        f"FROM acc{n}"
    )


@query("streaming_curation_neardup_crossengine", _neardup_xengine_oracle())
def streaming_curation_neardup_crossengine(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The near-dup streaming admission path under a HARD differential
    oracle: the same operator as ``streaming_curation_neardup``
    (streaming/structured.py:curation_ingest_neardup) drained over a
    DETERMINISTIC 3-batch feed (batch = doc_id % 3, one file per batch,
    maxFilesPerTrigger=1) with the md5+Karp-Rabin cross-engine MinHash
    family — so every per-batch decision (exact first-wins, in-batch LSH
    pair drop, persisted-index paraphrase rejection) is replayed
    value-for-value by the DuckDB oracle's unrolled per-batch CTE chain.
    The xxhash64 rows-only sibling stays the production default; this
    entry exists to close the one remaining rows-only gap in the LLM
    streaming surface (VERDICT r5 §next-round #1)."""
    from databricks_etl_pipelines_spark.operators.curation import (
        quality_score,
    )
    from databricks_etl_pipelines_spark.streaming.structured import (
        curation_ingest_neardup,
    )

    src = _three_batch_documents_feed(spark, sf_dir)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withColumn("quality", quality_score("text").cast("bigint"))
    )
    accepted = ManagedTable(scratch_dir("curated_ndx_docs_"))
    q = curation_ingest_neardup(
        stream,
        accepted,
        scratch_dir("curated_ndx_index_"),
        scratch_dir("curated_ndx_ckpt_"),
        min_quality=90,
        threshold=_ND_XE_THRESHOLD,
        num_perm=16,
        bands=4,
        family="crossengine",
    )
    await_drained(q, 600)
    return accepted.read(spark).select(
        "doc_id", "source", "lang", "n_chars", "quality", "text_hash"
    )


# -- streaming eval-benchmark decontamination ---------------------------------


from databricks_etl_pipelines_spark.plans.queries_llm import (  # noqa: E402
    _DECON_ORACLE,
    _PPL_BUCKETS_ORACLE,
)


@query(
    "streaming_perplexity_gate",
    # the batch perplexity-bucket oracle verbatim: the LM profile and
    # cutoffs are fixed before the drain and per-doc scores are
    # stateless, so the drained union equals the one-shot bucketing
    _PPL_BUCKETS_ORACLE,
)
def streaming_perplexity_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CCNet head/middle/tail gradient as a CONTINUOUS ingest gate
    (streaming/structured.py::perplexity_gate_stream): the unigram LM
    profile and the per-language tercile cutoffs are built once from
    the reference corpus, persisted, and every micro-batch of the
    deterministic 3-batch feed is scored and bucketed against them.
    Oracle = the batch bucketing SQL verbatim."""
    from databricks_etl_pipelines_spark.operators.curation import (
        perplexity_cutoffs,
        perplexity_score,
        perplexity_word_scores,
    )
    from databricks_etl_pipelines_spark.streaming.structured import (
        perplexity_gate_stream,
    )

    docs = table(spark, sf_dir, "documents")
    scores = perplexity_word_scores(docs, "text").persist()
    cuts = None
    try:
        cuts = perplexity_cutoffs(
            perplexity_score(docs, scores, "text", "doc_id", "lang"), "lang"
        ).persist()
        cuts.count()
        src = _three_batch_documents_feed(spark, sf_dir)
        schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        out = scratch_dir("ppl_gate_")
        q = perplexity_gate_stream(
            stream, scores, cuts, out, scratch_dir("ppl_gate_ckpt_")
        )
        await_drained(q, 600)
        result = spark.read.parquet(out).select(
            "doc_id", "lang", "n_tokens", "q_surprisal", "bucket"
        )
        return result
    finally:
        scores.unpersist()
        if cuts is not None:
            cuts.unpersist()


@query(
    "streaming_decontaminate",
    # deliberately the SAME oracle as curation_decontaminate_benchmark:
    # per-doc scores carry no cross-batch state, so the union of the
    # per-batch reports over the 3-batch drain must equal the one-shot
    # batch report exactly — incremental scoring invisible in the result
    _DECON_ORACLE,
)
def streaming_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-benchmark decontamination as a CONTINUOUS ingest gate
    (streaming/structured.py::decontaminate_stream): the src0 benchmark
    n-gram set is built ONCE and persisted, then a deterministic 3-batch
    corpus feed (doc_id % 3, maxFilesPerTrigger=1) is scored batch by
    batch against the broadcast set. The oracle is the batch
    decontamination SQL verbatim — per-doc scores have no cross-batch
    state, so the drained union must equal the one-shot report."""
    from databricks_etl_pipelines_spark.operators.curation import (
        benchmark_ngrams,
    )
    from databricks_etl_pipelines_spark.streaming.structured import (
        decontaminate_stream,
    )

    docs = table(spark, sf_dir, "documents")
    bench = benchmark_ngrams(
        docs.filter(F.col("source") == "src0"), "text", ngram_n=3
    ).persist()
    try:
        bench.count()  # materialize once before the drain
        src = _three_batch_documents_feed(spark, sf_dir)
        schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .filter(F.col("source") != "src0")
        )
        out = scratch_dir("decon_stream_")
        q = decontaminate_stream(
            stream,
            bench,
            out,
            scratch_dir("decon_ckpt_"),
            ngram_n=3,
            min_hits=5,
        )
        await_drained(q, 600)
        return spark.read.parquet(out).select(
            F.col("id").alias("doc_id"),
            "n_ngrams",
            "bench_hits",
            "contaminated",
        )
    finally:
        bench.unpersist()


# -- streaming reservoir sample (bottom-k uniform, deterministic) --------------

_RSV_K = 100

# reservoir_key at full rolling-hash granularity (no % 1e6) — see
# operators/curation.py:reservoir_key
_RSV_HASH = """list_reduce(
      list_prepend(CAST(0 AS BIGINT),
        list_transform(
          regexp_extract_all(md5(CAST(doc_id AS VARCHAR) || ':42'), '.'),
          c -> CAST(ord(c) AS BIGINT))),
      (acc, c) -> (acc * 257 + c) % 2147483647
    )"""

# Oracle: the drained stream-maintained sample must equal the ONE-SHOT
# batch bottom-k over the whole table — bottom-k folding is batch-split
# invariant, so the 3-micro-batch drain has no visible effect.
_RESERVOIR_ORACLE = f"""
WITH keyed AS (
  SELECT doc_id, source, lang, CAST({_RSV_HASH} AS BIGINT) AS sample_key
  FROM documents
)
SELECT doc_id, source, lang, sample_key,
  CAST(row_number() OVER (ORDER BY sample_key, doc_id) AS BIGINT)
    AS sample_rank
FROM keyed
QUALIFY sample_rank <= {_RSV_K}
"""


@query("streaming_reservoir_sample", _RESERVOIR_ORACLE)
def streaming_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size uniform sample maintained ACROSS micro-batches
    (streaming/structured.py:reservoir_sample_stream) — the deterministic
    bottom-k form of reservoir sampling, drained here over the SAME
    3-batch deterministic feed the near-dup oracle uses so the fold
    genuinely runs three times. State is exactly k rows per version;
    per-batch work is a batch-local TakeOrderedAndProject + a 2k-row
    merge. The oracle computes the one-shot batch bottom-k over all
    documents: equality IS the batching-invariance property."""
    from pyspark.sql.window import Window

    from databricks_etl_pipelines_spark.streaming.structured import (
        reservoir_sample_stream,
    )

    src = _three_batch_documents_feed(spark, sf_dir)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .select("doc_id", "source", "lang")
    )
    sample = ManagedTable(scratch_dir("rsv_sample_"))
    q = reservoir_sample_stream(
        stream, sample, scratch_dir("rsv_ckpt_"), k=_RSV_K
    )
    await_drained(q, 300)
    # rank window is partitionless but bounded: the sample is ≤ k rows
    rk = F.row_number().over(Window.orderBy("sample_key", "doc_id"))
    return sample.read(spark).select(
        "doc_id", "source", "lang", "sample_key"
    ).withColumn("sample_rank", rk.cast("bigint"))


# -- streaming KMV distinct estimate from the maintained sample ----------------

# The reservoir sample IS a KMV sketch: its k keys are the k smallest
# distinct hashes seen so far, merged incrementally across micro-batches.
# Oracle: the estimate recomputed from the one-shot batch bottom-k —
# equality shows the sketch is mergeable with NO accuracy loss from
# streaming (the bottom-k fold is lossless, unlike HLL register merges
# which are lossless too but engine-opaque).
_KMV_STREAM_NUM = (_RSV_K - 1) * 2147483648.0

_RESERVOIR_KMV_ORACLE = f"""
WITH keyed AS (
  SELECT DISTINCT CAST({_RSV_HASH} AS BIGINT) AS sample_key FROM documents
),
bottom AS (
  SELECT sample_key FROM keyed ORDER BY sample_key LIMIT {_RSV_K}
),
ex AS (
  SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS exact_distinct
  FROM documents
)
SELECT exact_distinct,
  CAST(count(*) AS BIGINT) AS n_keys,
  max(sample_key) AS kth_key,
  floor((CASE WHEN count(*) < {_RSV_K} THEN CAST(count(*) AS DOUBLE)
         ELSE {_KMV_STREAM_NUM} / (max(sample_key) + 1) END)
    * 10000 + 0.5) / 10000 AS kmv_estimate
FROM bottom, ex
GROUP BY exact_distinct
"""


@query("streaming_kmv_distinct", _RESERVOIR_KMV_ORACLE)
def streaming_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-count estimation over a STREAM with k-row state: drain
    the reservoir sample (micro-batch bottom-k folding), then read the
    KMV estimate straight off the maintained sample's k-th smallest key.
    The oracle recomputes the estimate from the batch bottom-k — the
    streaming fold is value-lossless, so the numbers match exactly.
    This is the streaming counterpart of ``agg_kmv_distinct`` sharing
    its machinery with ``streaming_reservoir_sample``; at 100 TB the
    k-row state replaces an unbounded streaming dropDuplicates whose
    state grows with the true distinct count."""
    from pyspark.sql.window import Window

    from databricks_etl_pipelines_spark.streaming.structured import (
        reservoir_sample_stream,
    )

    src = _three_batch_documents_feed(spark, sf_dir)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .select("doc_id")
    )
    sample = ManagedTable(scratch_dir("rsv_kmv_sample_"))
    q = reservoir_sample_stream(
        stream, sample, scratch_dir("rsv_kmv_ckpt_"), k=_RSV_K
    )
    await_drained(q, 300)
    exact = table(spark, sf_dir, "documents").agg(
        F.countDistinct("doc_id").alias("exact_distinct")
    )
    sk = sample.read(spark).agg(
        F.count("*").alias("n_keys"),
        F.max("sample_key").alias("kth_key"),
    )
    est = F.when(
        F.col("n_keys") < _RSV_K, F.col("n_keys").cast("double")
    ).otherwise(F.lit(_KMV_STREAM_NUM) / (F.col("kth_key") + F.lit(1)))
    return sk.crossJoin(F.broadcast(exact)).select(
        "exact_distinct",
        "n_keys",
        "kth_key",
        stable_round(est, 4).alias("kmv_estimate"),
    )


# -- streaming Count-Min heavy hitters -----------------------------------------

from databricks_etl_pipelines_spark.plans.queries_aggregates import (  # noqa: E402
    _CM_ORACLE,
    countmin_merge_probe_words,
)


@query(
    "streaming_countmin_heavy_hitters",
    # deliberately the SAME oracle as agg_countmin_words: CM counters
    # are mergeable by addition, so the per-batch partial cells summed
    # at read time equal the one-shot batch sketch bit-for-bit — the
    # equality IS the mergeability property under a hard oracle
    _CM_ORACLE,
)
def streaming_countmin_heavy_hitters(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Count-Min frequency sketch maintained over a STREAM
    (streaming/structured.py::countmin_stream): the deterministic
    3-batch documents feed drains through a foreachBatch that reduces
    each batch to vocabulary-side partial counter cells in its own
    replay-idempotent ``batch_id`` partition; the final sketch is the
    read-time sum of partials. The heavy-hitter probe (exact top-20
    words) then reads ESTIMATES identical to the batch sketch's — the
    oracle is ``agg_countmin_words``'s SQL verbatim. At 100 TB this is
    the shape frequency monitoring wants: per-batch work ∝ batch
    vocabulary, stream-length-independent d·w state, and no mutable
    accumulator (addition is not idempotent, so partials + read-time
    merge replace in-place updates)."""
    from databricks_etl_pipelines_spark.streaming.structured import (
        countmin_merge,
        countmin_stream,
    )

    src = _three_batch_documents_feed(spark, sf_dir)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .select("text")
    )
    out = scratch_dir("cm_stream_")
    q = countmin_stream(stream, out, scratch_dir("cm_stream_ckpt_"))
    await_drained(q, 300)
    cm = countmin_merge(spark, out)
    return countmin_merge_probe_words(spark, sf_dir, cm)


# -- streaming Bloom dedup gate (bounded-state approximate dedup) ---------------

_BFD_K = 3
_BFD_M = 32768

_BFD_POS = """list_reduce(
      list_prepend(CAST(0 AS BIGINT),
        list_transform(
          regexp_extract_all(md5('bfd' || i || ':' || key), '.'),
          c -> CAST(ord(c) AS BIGINT))),
      (acc, c) -> (acc * 257 + c) % 2147483647) % {m}""".format(m=_BFD_M)

# Oracle: per-batch Bloom admission replayed over the deterministic
# 3-batch feed (batch b = doc_id % 3): batch-local exact dedup first,
# then each rep probes the positions set by EARLIER batches only — the
# same first_batch < batch_id rule the replay-safe state enforces.
_BLOOM_DEDUP_ORACLE = f"""
WITH d AS (
  SELECT doc_id, CAST(doc_id % 3 AS BIGINT) AS batch_id,
    md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS key
  FROM documents
),
reps AS (
  SELECT batch_id, key, min(doc_id) AS doc_id
  FROM d GROUP BY batch_id, key
),
hs AS (SELECT unnest(range(0, {_BFD_K})) AS i),
pos AS (
  SELECT r.batch_id, r.key, r.doc_id,
    CAST({_BFD_POS} AS BIGINT) AS pos
  FROM reps r, hs
),
probe AS (
  SELECT p.batch_id, p.key, p.doc_id,
    sum(CASE WHEN EXISTS (
      SELECT 1 FROM pos q
      WHERE q.batch_id < p.batch_id AND q.pos = p.pos
    ) THEN 1 ELSE 0 END) AS hits
  FROM pos p GROUP BY p.batch_id, p.key, p.doc_id
),
seen AS (
  SELECT r.batch_id, r.key,
    CASE WHEN EXISTS (
      SELECT 1 FROM reps e
      WHERE e.key = r.key AND e.batch_id < r.batch_id
    ) THEN 1 ELSE 0 END AS seen_before
  FROM reps r
)
SELECT p.doc_id, p.batch_id,
  CAST(CASE WHEN p.hits = {_BFD_K} THEN 1 ELSE 0 END AS INT)
    AS bloom_rejected,
  CAST(s.seen_before AS INT) AS seen_before,
  CAST(CASE WHEN p.hits = {_BFD_K} AND s.seen_before = 0
       THEN 1 ELSE 0 END AS INT) AS false_drop
FROM probe p JOIN seen s ON s.batch_id = p.batch_id AND s.key = p.key
"""


@query("streaming_bloom_dedup", _BLOOM_DEDUP_ORACLE)
def streaming_bloom_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate streaming dedup with BOUNDED state
    (streaming/structured.py::bloom_dedup_stream): the 3-batch feed
    drains through a Bloom gate whose bit-set state is ≤ m rows however
    long the stream runs — the 100 TB answer to dropDuplicates'
    per-key state store. Every admission decision, the exact
    seen-before accounting, and the false-drop count (uniques lost to
    hash collisions — the accuracy price of bounded state) replay
    value-for-value in SQL. Bloom insertion is idempotent (set union),
    but the state pins (pos, first_batch) so a REPLAYED batch never
    probes bits it inserted itself before a crash — the at-least-once
    hazard the oracle's earlier-batches-only rule mirrors."""
    from databricks_etl_pipelines_spark.streaming.structured import (
        bloom_dedup_stream,
    )

    src = _three_batch_documents_feed(spark, sf_dir)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .select("doc_id", "text")
    )
    out = scratch_dir("bfd_out_")
    state = ManagedTable(scratch_dir("bfd_state_"))
    q = bloom_dedup_stream(
        stream, state, out, scratch_dir("bfd_ckpt_"),
        k=_BFD_K, m=_BFD_M,
    )
    await_drained(q, 300)
    dec = spark.read.parquet(out).drop("b")
    earlier = dec.select(
        F.col("key").alias("e_key"), F.col("batch_id").alias("e_batch")
    )
    seen = (
        dec.join(
            earlier,
            (F.col("key") == F.col("e_key"))
            & (F.col("e_batch") < F.col("batch_id")),
            "left",
        )
        .groupBy("doc_id", "batch_id", "key", "bloom_rejected")
        .agg(
            F.max(
                F.when(F.col("e_key").isNotNull(), 1).otherwise(0)
            ).alias("seen_before")
        )
    )
    return seen.select(
        "doc_id",
        "batch_id",
        F.col("bloom_rejected").cast("int").alias("bloom_rejected"),
        F.col("seen_before").cast("int").alias("seen_before"),
        (
            (F.col("bloom_rejected") == 1) & (F.col("seen_before") == 0)
        ).cast("int").alias("false_drop"),
    )


# -- streaming incremental EMA (stateful running-value operator) ---------------

_EMA_CUTS = ("2024-01-11", "2024-01-21")


def _three_batch_events_feed(spark: SparkSession, sf_dir: str) -> str:
    """events written as 3 parquet files split CHRONOLOGICALLY at fixed
    date cutpoints (events span 2024-01; batches = [min, 01-11),
    [01-11, 01-21), [01-21, max]), mtimes strictly increasing so
    maxFilesPerTrigger=1 drains them in event-time order. EMA is a
    sequential fold, so unlike the documents feed's doc_id%3 split the
    batches here MUST partition the (ts, event_id) total order into
    contiguous ranges — that is what makes batch-sequential folding
    equal the one-shot fold the oracle runs."""
    ev = table(spark, sf_dir, "events")
    c1, c2 = [F.lit(c).cast("timestamp") for c in _EMA_CUTS]
    return _write_batched_feed(
        [
            ev.filter(F.col("ts") < c1),
            ev.filter((F.col("ts") >= c1) & (F.col("ts") < c2)),
            ev.filter(F.col("ts") >= c2),
        ],
        "ema_",
    )


# deliberately the SAME oracle as window_ema_smoothing: a sequential
# recurrence maintained incrementally over chronological batches must be
# indistinguishable from the one-shot fold — raw IEEE state doubles and
# all, since the op sequence is identical. The equality IS the
# incremental-maintenance property, the running-value sibling of the
# Count-Min partials (additive) and Bloom bit-set (idempotent) oracles.
from databricks_etl_pipelines_spark.plans.queries_windows import (  # noqa: E402
    _EMA_ORACLE,
)


@query("streaming_ema_incremental", _EMA_ORACLE)
def streaming_ema_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EMA (alphas 1/2, 1/4) maintained over a STREAM
    (streaming/structured.py::ema_stream): the chronological 3-batch
    events feed drains through a foreachBatch that seeds each key from
    the latest state version and folds the batch's (ts, event_id)-
    ordered values on top, writing the full state as the next version of
    one state table, keyed by (checkpoint, batch id) (a running value
    can't use additive partials — a replayed batch whose state landed is
    skipped instead of double-folding). The drained state
    must equal ``window_ema_smoothing``'s one-shot fold bit-for-bit —
    the oracle is that query's SQL verbatim. State is one row per key
    per snapshot; per-batch work is the batch plus a keyed join onto
    the previous snapshot — stream-length-independent."""
    from databricks_etl_pipelines_spark.streaming.structured import (
        ema_final,
        ema_stream,
    )

    src = _three_batch_events_feed(spark, sf_dir)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .select("user_id", "ts", "event_id", "value")
    )
    state_root = scratch_dir("ema_state_")
    q = ema_stream(stream, state_root, scratch_dir("ema_ckpt_"))
    await_drained(q, 300)
    return ema_final(spark, state_root).select(
        F.col("k").alias("user_id"),
        "n_events",
        stable_round(F.col("last_value"), 6).alias("last_value"),
        stable_round(F.col("ema_half"), 6).alias("ema_half"),
        stable_round(F.col("ema_quarter"), 6).alias("ema_quarter"),
    )
