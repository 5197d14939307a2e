"""SparkSession factory tuned for this engine.

The reference runs on Databricks serverless and never configures Spark
(SURVEY.md §4); we run on OSS local[N] but set the handful of knobs that
matter at scale so the same code is cluster-ready:

  * AQE on (runtime shuffle coalescing, skew-join splitting).
  * shuffle.partitions sized to the local core count (on a real cluster this
    would be ~2-3x total cores or left to AQE's coalescing).
  * Arrow enabled for any pandas interchange (reference `04:43` uses
    toPandas; Arrow makes it columnar instead of row-pickled).
  * Session timezone pinned to UTC so timestamp semantics match the DuckDB
    oracle and are host-independent.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(app_name: str = "databricks-etl-pipelines-spark") -> SparkSession:
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # statistics-only scans: COUNT/MIN/MAX without filters read parquet
        # footers instead of data pages (off by default upstream)
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.optimizer.excludedRules", EXCLUDED_OPTIMIZER_RULES)
    )
    return builder.getOrCreate()


# InferFiltersFromGenerate synthesizes `size(arr) > 0 AND isnotnull(arr)`
# from every explode() and pushes it toward the scan. When the exploded
# array is an EXPENSIVE DERIVED expression (shingling, minhash prep), that
# duplicates the whole chain into the scan-side filter — evaluated per row,
# below any repartition, so on a single-split input it also serializes onto
# one core. Our text operators always explode derived arrays, never stored
# ones, so the rule is pure loss for this engine.
EXCLUDED_OPTIMIZER_RULES = (
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
)


def tune_for_derived_generate(spark: SparkSession) -> None:
    """Apply the engine's optimizer-rule exclusions to an externally-created
    session (e.g. the driver harness's). Sticky: optimizer conf must be live
    at ACTION time, so operators set it and leave it set."""
    spark.conf.set("spark.sql.optimizer.excludedRules", EXCLUDED_OPTIMIZER_RULES)


# How multi-consumer intermediate relations are pinned. Every pin site in
# the engine goes through invocation_pin() below, so the strategy is a
# SINGLE session-level choice instead of 20 hard-coded call sites:
#
#   * "localCheckpoint" (default): lazy ``localCheckpoint(eager=False)``.
#     Invocation-scoped — computed once inside the consumer's own action,
#     invisible to CacheManager plan-fragment matching (so a benchmark's
#     warm re-run recomputes from parquet), dead when the invocation's
#     DataFrames are garbage-collected. The right choice on static
#     clusters and for measurement honesty. HAZARD at production scale
#     (r15 ADVICE): localCheckpoint truncates lineage and stores blocks
#     only on executors, so executor loss / decommissioning / dynamic
#     allocation downscaling makes the job hard-fail with "checkpoint
#     block not found" instead of recomputing.
#   * "persist": ``persist()`` (MEMORY_AND_DISK). Keeps lineage, so lost
#     blocks recompute — the robust choice for autoscaling clusters with
#     dynamic allocation. COSTS: cached relations accumulate in executor
#     storage for the session lifetime unless the caller evicts
#     (``spark.catalog.clearCache()`` between logical runs), and a cached
#     fragment can serve a LATER run of the same query through plan
#     matching — never benchmark in this mode.
#   * "none": no pinning — every consumer recomputes from lineage. Useful
#     for plan inspection (the full dataflow appears in one explain) and
#     as the conservative fallback; multi-consumer operators pay one
#     recompute per extra consumer.
PIN_STRATEGY_CONF = "spark.databricks_etl.pinStrategy"


def invocation_pin(df):
    """Pin a multi-consumer intermediate relation according to the
    session's ``spark.databricks_etl.pinStrategy`` (see above). All
    engine pin sites route through here; sites whose CORRECTNESS depends
    on compute-once semantics (e.g. the packing planner's sampled range
    partitioning) call ``localCheckpoint`` directly instead and say why.
    Any other conf value raises ``ValueError``: a typo must not silently
    select the default.
    """
    try:
        mode = df.sparkSession.conf.get(PIN_STRATEGY_CONF, "localCheckpoint")
    except Exception:  # pragma: no cover - defensive: conf always readable
        mode = "localCheckpoint"
    if mode == "localCheckpoint":
        return df.localCheckpoint(eager=False)
    if mode == "persist":
        return df.persist()
    if mode == "none":
        return df
    raise ValueError(
        f"unknown {PIN_STRATEGY_CONF}={mode!r}; "
        "use 'localCheckpoint', 'persist' or 'none'"
    )
