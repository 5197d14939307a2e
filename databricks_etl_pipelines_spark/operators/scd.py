"""Slowly-changing-dimension (SCD Type 2) operators.

The reference maintains *current-state* dimensions via MERGE upserts
(reference ``02_Silver_Cleanse_PII.py:174-184`` — last write wins, history
discarded). SCD2 is the standard warehouse extension of that surface:
every attribute version is kept with a ``[effective_from, effective_to)``
validity interval and an ``is_current`` flag. Two forms:

* :func:`scd2_history` — batch derivation from a full observation feed.
  Pure window algebra: change-point detection (null-safe lag compare) →
  running version id → one aggregate per run → interval stitching. All
  four steps share the dim-key hash partitioning, so the whole plan costs
  a single Exchange.

* :func:`scd2_apply` — ORDER-INSENSITIVE incremental maintenance. The
  arriving batch is appended to a key-bucketed observation log; only the
  histories of keys present in the batch are rebuilt (touched-bucket
  pruned log scan); the dim swaps those keys' rows in one bucket-pruned
  MERGE commit. Because a rebuild is a pure function of the log, late or
  out-of-order batches are correct by construction — which is also what
  makes the foreachBatch streaming flavor (:func:`scd2_stream_apply`)
  exactly equal to the one-shot batch history.

At 100 TB: log and dim share a bucket layout on the dim key, so a batch
touching k of N buckets costs O(k/N) of the table in both the rebuild
scan (bucket-id partition filter, a bounded <=N-int driver list — the
same mechanism as ManagedTable's pruned MERGE) and the dim commit
(untouched buckets hardlink across versions). Never a full-table rewrite.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from databricks_etl_pipelines_spark.sources.managed_table import ManagedTable
from databricks_etl_pipelines_spark.streaming.structured import with_trigger


def scd2_history(
    df: DataFrame,
    keys: Sequence[str],
    attrs: Sequence[str],
    ts_col: str,
    tiebreak: Sequence[str] = (),
    with_counts: bool = True,
    op_col: str | None = None,
    delete_op: str = "D",
) -> DataFrame:
    """Collapse an observation feed into SCD2 validity intervals.

    Consecutive observations (ordered by ``ts_col`` + ``tiebreak`` within
    each key) with unchanged ``attrs`` collapse into one version row:
    ``keys…, scd_version, effective_from, attrs…, [n_obs,] effective_to,
    is_current``. The comparison is null-safe (NULL == NULL holds a run
    open). ``tiebreak`` must make the per-key order total or versions are
    nondeterministic across engines.

    With ``op_col``, rows whose op equals ``delete_op`` are DELETE
    events: a delete closes the open interval at the delete's timestamp
    and leaves a gap (version numbers skip over it) until the next real
    observation; a key whose last event is a delete has no current row.
    Internally a delete is a run of its own — attrs nulled, flagged by a
    marker that participates in change detection so it always breaks
    runs — stitched BEFORE being filtered out, so the preceding version's
    ``effective_to`` is the delete time, not the next observation's.
    """
    order = [F.col(ts_col), *(F.col(c) for c in tiebreak)]
    w = Window.partitionBy(*keys).orderBy(*order)
    deleted = (
        F.coalesce(F.col(op_col) == delete_op, F.lit(False)).cast("int")
        if op_col is not None
        else F.lit(0)
    )
    src = df.select(
        *keys, *attrs, ts_col, *tiebreak, deleted.alias("__del")
    )
    # a delete's attrs never open a run of their own
    src = src.select(
        *keys,
        *[
            F.when(F.col("__del") == 1, F.lit(None)).otherwise(F.col(a))
            .alias(a)
            for a in attrs
        ],
        ts_col,
        *tiebreak,
        "__del",
    )
    same = F.col("__del").eqNullSafe(F.lag(F.col("__del")).over(w))
    for a in attrs:
        same = same & F.col(a).eqNullSafe(F.lag(F.col(a)).over(w))
    chg = (
        F.when(F.row_number().over(w) == 1, F.lit(1))
        .when(same, F.lit(0))
        .otherwise(F.lit(1))
    )
    run_w = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    obs = src.withColumn("__chg", chg).withColumn(
        "scd_version", F.sum("__chg").over(run_w)
    )
    aggs = [
        F.min(ts_col).alias("effective_from"),
        # attrs are constant within a run, so min() is just "the value"
        # (and stays NULL for an all-NULL run).
        *(F.min(a).alias(a) for a in attrs),
        F.max("__del").alias("__del"),
    ]
    if with_counts:
        aggs.append(F.count(F.lit(1)).alias("n_obs"))
    hist = obs.groupBy(*keys, "scd_version").agg(*aggs)
    stitch_w = Window.partitionBy(*keys).orderBy("scd_version")
    stitched = hist.withColumn(
        "effective_to", F.lead("effective_from").over(stitch_w)
    ).withColumn("is_current", F.col("effective_to").isNull())
    return stitched.filter(F.col("__del") == 0).drop("__del")


def scd2_apply(
    spark: SparkSession,
    obs_log: ManagedTable,
    dim: ManagedTable,
    batch: DataFrame,
    keys: Sequence[str],
    attrs: Sequence[str],
    ts_col: str,
    tiebreak: Sequence[str] = (),
    n_buckets: int = 16,
    op_col: str | None = None,
    delete_op: str = "D",
) -> None:
    """Fold one observation batch into an SCD2 dimension, incrementally.

    Steps: (1) append the batch to the key-bucketed observation log;
    (2) rebuild :func:`scd2_history` for *touched keys only*, scanning
    only the log buckets those keys hash into; (3) MERGE the rebuilt rows
    into the dim on the bare key columns — which atomically replaces every
    old version row of a touched key (anti-join inside touched buckets)
    and hardlink-carries untouched buckets.

    Order-insensitive: the end state is a pure function of the set of
    observations in the log, so batches may arrive in any order (late
    data splits or extends runs; it can never be mis-stitched). Replay-
    safe: the rebuild dedups exact observation rows, so a re-delivered
    batch changes nothing (the log treats observations as a set).
    ``n_obs`` is therefore not produced by this path.
    """
    keys = list(keys)
    cols = [*keys, *attrs, ts_col, *tiebreak]
    if op_col is not None:
        cols.append(op_col)
    # batch lineage (often a filter/stream micro-batch) feeds three
    # actions: the log append, the touched-bucket collect, and the semi
    # join — persist so it computes once
    batch = batch.select(*cols).persist()
    try:
        if obs_log.exists():
            obs_log.append(batch)
        else:
            obs_log.create_or_overwrite(
                batch, bucket_by=keys, n_buckets=n_buckets
            )
        relevant = obs_log.read_for_keys(spark, batch, keys).dropDuplicates(
            cols
        )
        rebuilt = scd2_history(
            relevant, keys, attrs, ts_col, tiebreak, with_counts=False,
            op_col=op_col, delete_op=delete_op,
        )
        if dim.exists():
            # a key's rebuilt history is many rows, all replacing its old ones
            dim.merge_upsert(spark, rebuilt, keys, unique_keys=False)
        else:
            dim.create_or_overwrite(
                rebuilt, bucket_by=keys, n_buckets=n_buckets
            )
    finally:
        batch.unpersist()


def scd2_stream_apply(
    stream: DataFrame,
    obs_log: ManagedTable,
    dim: ManagedTable,
    keys: Sequence[str],
    attrs: Sequence[str],
    ts_col: str,
    checkpoint_dir: str,
    tiebreak: Sequence[str] = (),
    n_buckets: int = 16,
    processing_time: str | None = None,
):
    """Streaming SCD2 maintenance: each micro-batch folds through
    :func:`scd2_apply`. Because the apply is order-insensitive and
    replay-safe, the dim after an ``availableNow`` drain equals the
    one-shot batch :func:`scd2_history` of the whole feed no matter how
    the source splits or orders the micro-batches — and the same holds
    under the production ``processing_time`` interval trigger (pair with
    ``streaming.structured.stop_after_drained`` on bounded sources)."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        scd2_apply(
            batch_df.sparkSession,
            obs_log,
            dim,
            batch_df,
            keys,
            attrs,
            ts_col,
            tiebreak=tiebreak,
            n_buckets=n_buckets,
        )

    writer = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    return with_trigger(writer, processing_time).start()


def cdc_apply(
    spark: SparkSession,
    dim: ManagedTable,
    batch: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    lsn_col: str,
    op_col: str,
    delete_op: str = "D",
    n_buckets: int = 16,
) -> None:
    """APPLY CHANGES INTO, SCD Type 1: last-write-wins by event time with
    delete support (the DLT ``apply_changes`` / Delta CDC-merge shape the
    reference's MERGE-based silver layer implies).

    Each change row carries an event timestamp and a unique ``lsn_col``
    tie-break (CDC log sequence number), so "latest" is a total order.
    Deletes persist as TOMBSTONES (``is_deleted = true``) rather than
    physical removals — a late-arriving update older than an applied
    delete must stay dead, which makes the fold order-insensitive across
    batches: the surviving row per key is argmax(ts, lsn) over ALL
    changes ever applied, no matter how they were batched. Read the
    current state via :func:`cdc_read_current`.

    Per batch: one ``max_by`` aggregate picks the batch winner per key,
    the dim's matching rows (touched buckets only) join in for a second
    argmax, and one bucket-pruned MERGE commits — O(touched buckets).
    """
    keys = list(keys)
    if op_col not in batch.columns:
        raise ValueError(f"cdc_apply batch is missing op column {op_col!r}")
    payload = [
        c for c in batch.columns
        if c not in (*keys, ts_col, lsn_col, op_col, "is_deleted")
    ]

    def normalize(df: DataFrame) -> DataFrame:
        # NULL op = an unstamped upsert, never a delete: a bare
        # (op == delete) would store is_deleted=NULL, which a tombstone
        # filter drops — the key would be neither live nor dead.
        return df.select(
            *keys,
            F.col(ts_col),
            F.col(lsn_col),
            F.coalesce(
                F.col(op_col) == delete_op, F.lit(False)
            ).alias("is_deleted"),
            *payload,
        )

    def latest(df: DataFrame) -> DataFrame:
        row = F.struct(
            F.col(ts_col), F.col(lsn_col), F.col("is_deleted"), *payload
        )
        order = F.struct(F.col(ts_col), F.col(lsn_col))
        won = df.groupBy(*keys).agg(F.max_by(row, order).alias("__r"))
        return won.select(
            *keys,
            F.col(f"__r.{ts_col}").alias(ts_col),
            F.col(f"__r.{lsn_col}").alias(lsn_col),
            F.col("__r.is_deleted").alias("is_deleted"),
            *[F.col(f"__r.{c}").alias(c) for c in payload],
        )

    # incoming feeds several actions (touched-bucket collect, union,
    # merge) — persist so the batch aggregate computes once
    incoming = latest(normalize(batch)).persist()
    try:
        if not dim.exists():
            dim.create_or_overwrite(
                incoming, bucket_by=keys, n_buckets=n_buckets
            )
            return
        cur = dim.read_for_keys(spark, incoming, keys)
        winners = latest(incoming.unionByName(cur))
        dim.merge_upsert(spark, winners, keys)
    finally:
        incoming.unpersist()


def cdc_read_current(dim: ManagedTable, spark: SparkSession) -> DataFrame:
    """Live rows of a :func:`cdc_apply`-maintained dimension (tombstones
    filtered)."""
    return dim.read(spark).filter(~F.col("is_deleted"))


def cdc_stream_apply(
    stream: DataFrame,
    dim: ManagedTable,
    keys: Sequence[str],
    ts_col: str,
    lsn_col: str,
    op_col: str,
    checkpoint_dir: str,
    delete_op: str = "D",
    n_buckets: int = 16,
    processing_time: str | None = None,
):
    """Streaming APPLY CHANGES INTO: each micro-batch folds through
    :func:`cdc_apply`. Last-write-wins by (ts, lsn) with persistent
    tombstones makes the fold order-insensitive, so the drained dim
    equals the one-shot latest-per-key state however the source batches
    the change log. ``processing_time`` switches to the production
    interval trigger (pair with ``stop_after_drained`` on bounded
    sources); both trigger modes converge to the same dim state."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        cdc_apply(
            batch_df.sparkSession,
            dim,
            batch_df,
            keys,
            ts_col,
            lsn_col,
            op_col,
            delete_op=delete_op,
            n_buckets=n_buckets,
        )

    writer = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    return with_trigger(writer, processing_time).start()
