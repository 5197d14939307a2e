"""Medallion pipeline stages: bronze → silver (validate / quarantine / PII /
enrich / merge) → gold aggregates.

Re-expression of the reference's three pipeline notebooks as composable
DataFrame builders (every stage is a pure function DataFrame → DataFrame;
sinks are injected). Parity map:

  * validation split — 02_Silver_Cleanse_PII.py:112-128, but implemented as
    a negated-predicate filter + reason CASE instead of the reference's
    ``subtract`` (E1): one scan each side, no EXCEPT-DISTINCT dedup hazard,
    scales linearly.
  * PII mask/tokenize — 02:67-73 / 02:133-137.
  * enrichment — 02:143-166 (category lookup, date/hour, bucket, risk).
  * gold builders — 03:40-58 (merchant), 03:93-147 (entity features),
    03:173-183 (hourly volume).

Timestamps that are wall-clock (`silver_timestamp`) are optional so
differential tests can exclude nondeterminism.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from databricks_etl_pipelines_spark.functions.enrich import (
    additive_score,
    any_flag,
    bucketize,
    map_lookup,
)
from databricks_etl_pipelines_spark.functions.numeric import stable_round
from databricks_etl_pipelines_spark.functions.privacy import (
    mask_card_number,
    tokenize_pii,
)
from databricks_etl_pipelines_spark.sources.generator import (
    HIGH_RISK_MCC,
    MCC_CATEGORIES,
    MCC_CODES,
)
from databricks_etl_pipelines_spark.sources.managed_table import ManagedTable

AMOUNT_BUCKETS = ([10.0, 50.0, 200.0], ["micro", "small", "medium", "large"])

RISK_TERMS = (
    ("velocity_flag", 30),
    ("amount_anomaly_flag", 25),
    ("is_high_risk_mcc", 20),
    ("is_international", 15),
    ("is_online", 10),
)


def validation_predicate() -> F.Column:
    return (
        F.col("transaction_id").isNotNull()
        & (F.col("amount") > 0)
        & (F.length("card_number") == 16)
        & F.col("mcc_code").isin(*MCC_CODES)
    )


def quarantine_reason() -> F.Column:
    """First failing rule, null-safe: a NULL field fails its own rule (a null
    amount is non-positive for routing purposes), and a final ``otherwise``
    guarantees no quarantined row ever carries a NULL reason."""
    return (
        F.when(F.col("transaction_id").isNull(), "null_transaction_id")
        .when(
            F.col("amount").isNull() | ~(F.col("amount") > 0),
            "non_positive_amount",
        )
        .when(
            F.col("card_number").isNull() | (F.length("card_number") != 16),
            "malformed_card_number",
        )
        .when(
            F.col("mcc_code").isNull() | ~F.col("mcc_code").isin(*MCC_CODES),
            "invalid_mcc_code",
        )
        .otherwise("unknown")
    )


def split_valid_quarantine(bronze: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(valid, quarantined-with-reason). Direct predicates, not subtract:
    preserves duplicates and costs one scan per side (vs EXCEPT's shuffle).

    Quarantine takes the NULL-safe complement — ``filter(~pred)`` alone would
    drop rows where the predicate evaluates to NULL (null amount / card /
    mcc) from BOTH sides, silently losing them from the audit trail. The
    reference's ``subtract`` form (02_Silver_Cleanse_PII.py:120) retains such
    rows; so do we."""
    return _split(bronze, *_split_columns())


def _split_columns() -> tuple[F.Column, F.Column, F.Column]:
    pred = validation_predicate()
    return pred, ~F.coalesce(pred, F.lit(False)), quarantine_reason()


def _split(
    bronze: DataFrame, keep: F.Column, drop: F.Column, reason: F.Column
) -> tuple[DataFrame, DataFrame]:
    quarantined = bronze.filter(drop).withColumn("quarantine_reason", reason)
    return bronze.filter(keep), quarantined


def _with_columns(df: DataFrame, cols: list[tuple[str, F.Column]]) -> DataFrame:
    for name, col in cols:
        df = df.withColumn(name, col)
    return df


def _pii_columns() -> list[tuple[str, F.Column]]:
    return [
        ("card_number_masked", mask_card_number("card_number")),
        ("cardholder_token", tokenize_pii("cardholder_name")),
    ]


# the raw PII columns the silver masks and drops
PII_SOURCES = ("card_number", "cardholder_name")


def _mask(df: DataFrame, pii: list[tuple[str, F.Column]]) -> DataFrame:
    return _with_columns(df, pii).drop(*PII_SOURCES)


def mask_pii(df: DataFrame) -> DataFrame:
    return _mask(df, _pii_columns())


def _enrich_columns(stamps: bool) -> list[tuple[str, F.Column]]:
    cols = [
        ("mcc_category", map_lookup("mcc_code", MCC_CATEGORIES, default="other")),
        ("event_date", F.to_date("event_timestamp")),
        ("event_hour", F.hour("event_timestamp").cast("bigint")),
        ("amount_bucket", bucketize("amount", *AMOUNT_BUCKETS)),
        ("is_high_risk_mcc", F.col("mcc_code").isin(*HIGH_RISK_MCC)),
        (
            "risk_score_raw",
            additive_score([(F.col(c), w) for c, w in RISK_TERMS]),
        ),
    ]
    if stamps:
        cols.append(("silver_timestamp", F.current_timestamp()))
    return cols


def enrich_silver(df: DataFrame, stamps: bool = False) -> DataFrame:
    return _with_columns(df, _enrich_columns(stamps))


def silver_transform(bronze: DataFrame, stamps: bool = False) -> tuple[DataFrame, DataFrame]:
    """bronze → (silver, quarantine)."""
    valid, quarantined = _split(bronze, *_split_columns())
    silver = _with_columns(_mask(valid, _pii_columns()), _enrich_columns(stamps))
    return silver, quarantined


VALID_COL = "__valid"


def silver_projection(bronze: DataFrame) -> tuple[DataFrame, list[str], list[str]]:
    """:func:`silver_transform` as ONE projection of ``bronze``, for a
    stream that collects each micro-batch once and splits it on the
    driver. The projection holds the bronze columns,
    ``quarantine_reason``, the PII and enrichment columns and the
    null-safe valid flag :data:`VALID_COL`; it returns with the
    quarantine's and the silver's column names. Filtering it on the flag
    (or its negation) and selecting those names gives the silver and
    quarantine of :func:`silver_transform`, from the same Column builders.
    A stream applies it once, to the streaming DataFrame, so its
    ``withColumn`` calls are analysed once per query, not once per batch.

    The PII and enrichment columns are evaluated only where the flag is
    true, so no silver expression runs on a quarantined row (which could
    raise under ANSI mode); quarantined rows hold NULL there."""
    keep, _, reason = _split_columns()
    derived = _pii_columns() + _enrich_columns(False)
    quarantine = bronze.columns + ["quarantine_reason"]
    # withColumn keeps a replaced column in its place
    silver = [c for c in bronze.columns if c not in PII_SOURCES]
    silver += [name for name, _ in derived if name not in silver]
    projected = _with_columns(
        bronze,
        [("quarantine_reason", reason), (VALID_COL, F.coalesce(keep, F.lit(False)))]
        + [(name, F.when(F.col(VALID_COL), col)) for name, col in derived],
    )
    return projected, quarantine, silver


# ---------------------------------------------------------------------------
# gold builders
# ---------------------------------------------------------------------------


def _distinct_agg(col: str, exact: bool) -> F.Column:
    """Exact vs sketched distinct count — the documented 100 TB swap
    (SURVEY §4): ``countDistinct`` costs an Expand + second aggregation
    pass per distinct column; ``approx_count_distinct`` (HyperLogLog++,
    default rsd 5%) folds into the single hash-aggregate. With 5+ distinct
    aggs in one groupBy (the feature table), exact mode multiplies the
    shuffled rows 5x — at 100 TB the sketch is the default, exact the
    audit mode."""
    return F.countDistinct(col) if exact else F.approx_count_distinct(col)


def gold_merchant_risk_summary(
    silver: DataFrame, exact_distinct: bool = True
) -> DataFrame:
    """4-key merchant rollup (03:40-58): counts, volume, risk mix, pct."""
    agg = silver.groupBy(
        "merchant_name", "mcc_category", "merchant_state", "is_high_risk_mcc"
    ).agg(
        F.count("*").alias("txn_count"),
        stable_round(F.sum("amount"), 2).alias("total_volume"),
        stable_round(F.max("amount"), 2).alias("max_amount"),
        _distinct_agg("cardholder_token", exact_distinct).alias(
            "unique_cardholders"
        ),
        F.sum(F.when(F.col("risk_score_raw") >= 50, 1).otherwise(0)).alias(
            "high_risk_txns"
        ),
        F.sum(F.when(F.col("is_online"), 1).otherwise(0)).alias("online_txns"),
        F.sum(F.when(F.col("is_international"), 1).otherwise(0)).alias(
            "intl_txns"
        ),
        F.sum(F.when(F.col("velocity_flag"), 1).otherwise(0)).alias(
            "velocity_txns"
        ),
        stable_round(F.sum("risk_score_raw"), 2).alias("total_risk_score"),
    )
    return (
        agg.withColumn(
            "avg_amount",
            stable_round(F.col("total_volume") / F.col("txn_count"), 4),
        )
        .withColumn(
            "avg_risk_score",
            stable_round(F.col("total_risk_score") / F.col("txn_count"), 4),
        )
        .withColumn(
            "high_risk_pct",
            stable_round(F.col("high_risk_txns") / F.col("txn_count") * 100, 2),
        )
        .withColumn(
            "online_pct",
            stable_round(F.col("online_txns") / F.col("txn_count") * 100, 2),
        )
    )


def gold_cardholder_features(
    silver: DataFrame, exact_distinct: bool = True
) -> DataFrame:
    """Per-cardholder feature table (03:93-147): wide aggregate + ratios +
    suspicion label, one shuffle (5 distinct aggs ⇒ see ``_distinct_agg``
    for the sketch swap that keeps it a SINGLE pass at scale)."""
    feat = silver.groupBy("cardholder_token").agg(
        F.count("*").alias("txn_count"),
        stable_round(F.sum("amount"), 2).alias("total_spend"),
        stable_round(F.stddev("amount"), 4).alias("stddev_amount"),
        stable_round(F.min("amount"), 2).alias("min_amount"),
        stable_round(F.max("amount"), 2).alias("max_amount"),
        _distinct_agg("merchant_name", exact_distinct).alias("unique_merchants"),
        _distinct_agg("mcc_category", exact_distinct).alias("unique_categories"),
        _distinct_agg("merchant_state", exact_distinct).alias("unique_states"),
        F.sum(F.when(F.col("is_online"), 1).otherwise(0)).alias("online_txns"),
        F.sum(F.when(F.col("is_international"), 1).otherwise(0)).alias(
            "intl_txns"
        ),
        F.sum(F.when(F.col("is_high_risk_mcc"), 1).otherwise(0)).alias(
            "high_risk_mcc_txns"
        ),
        stable_round(F.sum("risk_score_raw"), 2).alias("total_risk_score"),
        stable_round(F.max("risk_score_raw"), 2).alias("max_risk_score"),
        F.sum(F.when(F.col("velocity_flag"), 1).otherwise(0)).alias(
            "velocity_alerts"
        ),
        F.sum(F.when(F.col("amount_anomaly_flag"), 1).otherwise(0)).alias(
            "anomaly_alerts"
        ),
        _distinct_agg("card_network", exact_distinct).alias("unique_networks"),
        _distinct_agg("card_type", exact_distinct).alias("unique_card_types"),
        F.min("event_timestamp").alias("first_seen"),
        F.max("event_timestamp").alias("last_seen"),
    )
    feat = (
        feat.withColumn(
            "avg_amount", stable_round(F.col("total_spend") / F.col("txn_count"), 4)
        )
        .withColumn(
            "avg_risk_score",
            stable_round(F.col("total_risk_score") / F.col("txn_count"), 4),
        )
        .withColumn(
            "online_ratio",
            stable_round(F.col("online_txns") / F.col("txn_count"), 4),
        )
        .withColumn(
            "intl_ratio", stable_round(F.col("intl_txns") / F.col("txn_count"), 4)
        )
        .withColumn(
            "avg_amount_per_merchant",
            stable_round(F.col("total_spend") / F.col("unique_merchants"), 4),
        )
        .withColumn(
            "coefficient_of_variation",
            stable_round(
                F.col("stddev_amount") / F.nullif(F.col("avg_amount"), F.lit(0)), 4
            ),
        )
    )
    return feat.withColumn(
        "is_suspicious",
        any_flag(
            F.col("avg_risk_score") >= 40,
            F.col("velocity_alerts") >= 2,
            F.col("anomaly_alerts") >= 3,
        ),
    )


def gold_hourly_volume(
    silver: DataFrame, exact_distinct: bool = True
) -> DataFrame:
    """Hourly volume stats (03:173-183)."""
    return (
        silver.groupBy("event_date", "event_hour", "card_network", "mcc_category")
        .agg(
            F.count("*").alias("txn_count"),
            stable_round(F.sum("amount"), 2).alias("total_volume"),
            _distinct_agg("cardholder_token", exact_distinct).alias(
                "unique_cardholders"
            ),
        )
        .withColumn(
            "avg_amount",
            stable_round(F.col("total_volume") / F.col("txn_count"), 4),
        )
    )


# ---------------------------------------------------------------------------
# pipeline runner (batch flavor; streaming flavor in streaming/)
# ---------------------------------------------------------------------------


class MedallionPipeline:
    """Bronze→silver→gold over ManagedTables rooted at ``root``."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.bronze = ManagedTable(os.path.join(root, "bronze_transactions"))
        self.silver = ManagedTable(os.path.join(root, "silver_transactions"))
        self.quarantine = ManagedTable(os.path.join(root, "quarantine"))
        self.gold_merchant = ManagedTable(os.path.join(root, "gold_merchant"))
        self.gold_features = ManagedTable(os.path.join(root, "gold_features"))
        self.gold_hourly = ManagedTable(os.path.join(root, "gold_hourly"))

    def ingest_bronze(self, feed: DataFrame) -> int:
        return self.bronze.append(feed)

    def run_silver(self) -> dict[str, int]:
        """Silver and this run's quarantined row counts, read from the
        tables' parquet footers (``ManagedTable.num_rows``): no count
        job runs, unless the quarantine's previous version was vacuumed."""
        bronze = self.bronze.read(self.spark)
        silver, quarantined = silver_transform(bronze)
        self.silver.merge_upsert(self.spark, silver, ["transaction_id"])
        v = self.quarantine.append(quarantined)
        before = self.quarantine.num_rows(v - 1) if v else 0
        return {
            "silver": self.silver.num_rows(),
            "quarantined": (
                self.quarantine.num_rows(v) - before
                if before >= 0 else quarantined.count()
            ),
        }

    def run_gold(self) -> dict[str, int]:
        silver = self.silver.read(self.spark)
        self.gold_merchant.create_or_overwrite(gold_merchant_risk_summary(silver))
        self.gold_features.create_or_overwrite(gold_cardholder_features(silver))
        self.gold_hourly.create_or_overwrite(gold_hourly_volume(silver))
        return {
            "merchant": self.gold_merchant.num_rows(),
            "features": self.gold_features.num_rows(),
            "hourly": self.gold_hourly.num_rows(),
        }
