"""Structured Streaming operators (SURVEY §2.9 T1-T6 + parity-plus M7).

Reference parity: availableNow trigger (01:187), checkpointed exactly-once
(01:185), append sinks (01:184), foreachBatch with MERGE (02:97-184).
Parity-plus (absent in the reference, demanded by the category):
watermarks, tumbling/sliding/session event-time windows, and streaming
dropDuplicates — all Spark built-ins.

Every foreachBatch operator here starts through :func:`_each_batch`, which
keys each batch's ``ManagedTable`` writes by ``(stream id, batch_id)`` (the
stream id is the checkpoint path with the query id Spark keeps in it) and
skips a replayed batch whose writes all landed. No operator runs a job
to test a batch for emptiness: each one ends a zero-row batch as if it had
not come. The reference's empty-batch guard (T6, 02:106) is
``StreamingMedallion``'s test of the row count of its one collect.

At scale: streaming state (windows, dedup keys) lives in the state store
keyed by the aggregation keys; watermarks bound that state. Without a
watermark an unbounded-key streaming dedup leaks state forever — always
pair dropDuplicates with withWatermark on production streams.
"""

from __future__ import annotations

import json
import os
import threading
import uuid
import warnings
from collections.abc import Callable, Sequence

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from databricks_etl_pipelines_spark.sources import managed_table
from databricks_etl_pipelines_spark.sources.managed_table import ManagedTable


_STREAM_DIR_CACHE: dict[str, str] = {}


def await_drained(q: StreamingQuery, timeout_s: int = 300) -> None:
    """Block until an availableNow drain finishes, raising on timeout.

    ``awaitTermination(timeout)`` returns False on timeout rather than
    raising; ignoring that would let a caller read a partially-ingested
    sink and return silently wrong rows. Hard-fail instead.
    """
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(
            f"streaming drain did not finish within {timeout_s}s "
            f"(query id {q.id})"
        )


def stop_after_drained(
    q: StreamingQuery, expected_rows: int, timeout_s: int = 300
) -> None:
    """Bounded drain for a ``processingTime``-triggered query — the
    reference's PRODUCTION trigger mode (01_Bronze_FinServ_Streaming.py:
    179,196), which never terminates on its own.

    Stops once the source is EXHAUSTED — ``status.isDataAvailable`` false
    with no trigger in flight — and at least ``expected_rows`` input rows
    have appeared in the progress stream. The row floor alone is NOT a
    safe stop condition: under ``foreachBatch``, actions inside the
    callback can re-scan the micro-batch's file split and inflate
    ``numInputRows``, so the sum may cross the threshold while later
    files are still unread (observed: a 6-row/3-file feed reporting
    4+2 before its third file ran). The status gate is what guarantees
    every file was consumed and committed; the floor guards the startup
    window where status is not yet meaningful. Raises on timeout rather
    than returning a partially-ingested sink (same hard-fail stance as
    ``await_drained``).

    Test/bounded-backfill path: production processingTime queries run
    forever by design; this exists so the processingTime surface is
    exercisable against finite sources. Per-batch row counts are
    accumulated by a StreamingQueryListener keyed by batchId — pushed
    per batch by the engine, so the count has NO dependency on how many
    entries ``recentProgress`` retains (~100, bounded by
    spark.sql.streaming.numRecentProgressUpdates). ``recentProgress``
    is read once per poll only to SEED batches that completed before
    the listener registered (this helper attaches to an already-running
    query), and is the sole source in the degenerate case where no
    active SparkSession is reachable from this thread; both writers
    store the same final per-batch value, so overlap is idempotent.
    """
    import time as _time

    from pyspark.sql.streaming import StreamingQueryListener

    qid = str(q.id)
    rows_by_batch: dict[int, int] = {}

    class _DrainListener(StreamingQueryListener):
        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            if str(p.id) == qid:
                # per-batch numInputRows is final once reported; keyed
                # insert makes the sum count each batch exactly once
                rows_by_batch[p.batchId] = p.numInputRows

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    spark = SparkSession.getActiveSession()
    listener = _DrainListener()
    if spark is not None:
        spark.streams.addListener(listener)
    try:
        deadline = _time.time() + timeout_s
        while _time.time() < deadline:
            status = q.status
            for p in q.recentProgress:
                rows_by_batch[p["batchId"]] = p["numInputRows"]
            done = sum(rows_by_batch.values())
            if (
                done >= expected_rows
                and not status["isDataAvailable"]
                and not status["isTriggerActive"]
            ):
                q.stop()
                if not q.awaitTermination(timeout_s):
                    raise TimeoutError(
                        f"processingTime query did not stop within "
                        f"{timeout_s}s (query id {q.id})"
                    )
                return
            if q.exception() is not None:
                raise q.exception()
            _time.sleep(0.2)
        q.stop()
        raise TimeoutError(
            f"processingTime drain saw fewer than {expected_rows} rows "
            f"within {timeout_s}s (query id {q.id})"
        )
    finally:
        if spark is not None:
            spark.streams.removeListener(listener)


def with_trigger(writer, processing_time: str | None):
    """Shared trigger policy for every streaming writer in the package:
    ``availableNow`` (drain-and-stop) unless a ``processing_time``
    interval is given — the reference's production mode (01:179,196)."""
    if processing_time is None:
        return writer.trigger(availableNow=True)
    return writer.trigger(processingTime=processing_time)


def _each_batch(
    stream: DataFrame,
    checkpoint_dir: str,
    body: Callable[[DataFrame, tuple[str, int]], None],
    processing_time: str | None = None,
    tables: Sequence[ManagedTable] = (),
    cache_batch: bool = False,
) -> StreamingQuery:
    """Start ``stream`` with ``body`` run on each micro-batch: the one
    foreachBatch of this module. ``body(batch_df, txn)`` gets the batch's
    idempotency key ``txn = (_stream_id(checkpoint_dir), batch_id)`` and
    passes it to every ``ManagedTable`` write it makes. A replayed batch
    whose key every table in ``tables`` already holds returns before any
    Spark job runs (Delta's ``txnAppId``/``txnVersion`` idempotent
    foreachBatch writes). Zero-row batches reach ``body`` too.

    Every action on ``batch_df`` runs the micro-batch's scan again, so a
    ``body`` that reads it more than once (two writes, or a self-join or
    union in one plan) sets ``cache_batch``: the batch is persisted for
    the call, filled by the first action that reads it, and each batch's
    input is scanned once."""
    app_id = None

    def each(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal app_id
        if app_id is None:  # Spark writes the id before the first batch
            app_id = _stream_id(checkpoint_dir)
        txn = (app_id, batch_id)
        if tables and all(t._committed(txn) for t in tables):
            return
        if not cache_batch:
            body(batch_df, txn)
            return
        batch_df = batch_df.persist()
        try:
            body(batch_df, txn)
        finally:
            batch_df.unpersist()

    writer = stream.writeStream.foreachBatch(each).option(
        "checkpointLocation", checkpoint_dir
    )
    return with_trigger(writer, processing_time).start()


def _stream_id(checkpoint_dir: str) -> str:
    """The app id a stream keys its writes by: the checkpoint path and the
    query id Spark keeps in its ``metadata`` file. The id survives a
    restart and is new for a checkpoint recreated at the same path, whose
    batch ids start again at 0: that run is a new stream, not a replay."""
    with open(os.path.join(checkpoint_dir, "metadata")) as f:
        return f"{checkpoint_dir}@{json.loads(f.readline())['id']}"


def _claim(table: ManagedTable, txn: tuple[str, int], op_name: str) -> str:
    """The run-ownership rule of a table a stream folds its state into,
    read from its newest keyed commit in one manifest lookup. Returns what
    batch ``txn`` must do: "replay" when its app already recorded that
    batch id (write nothing), "takeover" when batch 0 finds another app's
    commit (warn, and seed from the batch alone), else "fold". A batch > 0
    that finds another app's commit raises ``ValueError``. A table with no
    keyed commit (new, batch-built, or reset by a keyless overwrite)
    belongs to whoever folds into it."""
    app_id, batch_id = txn
    last = table._last_txn()
    if last is None:
        return "fold"
    owner, last_batch = last["txn"]
    if owner == app_id:
        return "replay" if batch_id <= last_batch else "fold"
    if batch_id == 0:
        warnings.warn(
            f"{op_name}: batch 0 of checkpoint {app_id!r} is taking over "
            f"table {table.root!r} previously maintained by checkpoint "
            f"{owner!r}; its state is being overwritten",
            stacklevel=3,
        )
        return "takeover"
    raise ValueError(
        f"{op_name}: table {table.root!r} is maintained by checkpoint "
        f"{owner!r}, not {app_id!r} — refusing to fold onto another "
        "query's state; point this query at its own table or clear it"
    )


def _as_stream_dir(parquet_file: str) -> str:
    """Spark file streams require a directory; expose a single parquet file
    through a scratch dir containing a symlink to it."""
    if parquet_file not in _STREAM_DIR_CACHE:
        import tempfile

        d = tempfile.mkdtemp(prefix="stream_src_")
        os.symlink(parquet_file, os.path.join(d, os.path.basename(parquet_file)))
        _STREAM_DIR_CACHE[parquet_file] = d
    return _STREAM_DIR_CACHE[parquet_file]


def streaming_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events table as a file stream, ts normalized to TIMESTAMP exactly as
    the batch scan in sources/tables.py (ns-as-long rebuild, or NTZ cast —
    watermarks reject TIMESTAMP_NTZ event-time columns)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .parquet(_as_stream_dir(f"{sf_dir}/events.parquet"))
    )
    ts_type = dict(stream.dtypes).get("ts")
    if ts_type == "bigint":
        stream = stream.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif ts_type == "timestamp_ntz":
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream.select("event_id", "ts", "user_id", "event_type", "value", "props")


def streaming_documents(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """documents table as a file stream (the arrival feed of a continuous
    training-data ingest). ``max_files_per_trigger`` splits the drain into
    one micro-batch per file — the multi-batch path tests use."""
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(_as_stream_dir(f"{sf_dir}/documents.parquet"))


def _exact_admit(
    batch_df: DataFrame,
    accepted: ManagedTable,
    min_quality: int,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """The exact stages of both curation ingests: the quality gate, then
    one row per md5(normalized text), the smallest id, then an anti-join
    against the hashes already accepted (first batch wins across
    batches)."""
    from pyspark.sql import Window

    from databricks_etl_pipelines_spark.functions.textfns import (
        normalized_text,
    )
    from databricks_etl_pipelines_spark.operators.curation import (
        quality_score,
    )

    hashed = batch_df.filter(
        quality_score(text_col).cast("bigint") >= min_quality
    ).withColumn("text_hash", F.md5(normalized_text(text_col)))
    w = Window.partitionBy("text_hash").orderBy(id_col)
    first = (
        hashed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    if accepted.exists():
        seen = accepted.read(batch_df.sparkSession).select("text_hash")
        first = first.join(seen, "text_hash", "left_anti")
    return first


def curation_ingest(
    stream: DataFrame,
    accepted: "ManagedTable",
    checkpoint_dir: str,
    min_quality: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
    processing_time: str | None = None,
) -> StreamingQuery:
    """Streaming flavor of the curation funnel: continuously ingest
    documents, gate on the quality rubric, and accept each normalized text
    exactly once — the steady-state shape of a training-corpus pipeline
    (new crawl snapshots arrive forever; the corpus must never re-admit a
    document it already holds).

    Per micro-batch: quality gate -> within-batch exact dedup (min id per
    md5(normalized text), deterministic) -> anti-join against the accepted
    table's hashes (first BATCH wins across batches; ties inside a batch go
    to the smaller id) -> append survivors, keyed by the batch. A replayed
    batch whose append landed is skipped; the anti-join keeps a fresh
    checkpoint's re-delivered hashes out.

    At 100 TB the accepted table should be laid out bucketed by
    ``text_hash`` so the per-batch anti-join co-locates instead of
    shuffling the full hash set each batch; the persisted-corpus variant of
    that layout is operators/dedup.py's incremental corpus index — this
    operator is the orchestration around it.
    """

    def body(batch_df: DataFrame, txn: tuple[str, int]) -> None:
        first = _exact_admit(batch_df, accepted, min_quality, text_col, id_col)
        accepted.append(first, txn=txn)

    return _each_batch(
        stream, checkpoint_dir, body, processing_time, tables=(accepted,)
    )


def curation_ingest_neardup(
    stream: DataFrame,
    accepted: "ManagedTable",
    index_root: str,
    checkpoint_dir: str,
    min_quality: int = 50,
    threshold: float = 0.7,
    text_col: str = "text",
    id_col: str = "doc_id",
    processing_time: str | None = None,
    num_perm: int = 32,
    bands: int = 8,
    family: str = "xxhash64",
) -> StreamingQuery:
    """:func:`curation_ingest` upgraded from exact to NEAR-dup admission:
    each micro-batch is additionally screened against the persisted MinHash
    corpus index (operators/dedup.MinHashCorpusIndex), so a paraphrased or
    lightly-edited re-crawl of an accepted document is rejected too.

    Per batch, after the exact stages: (1) in-batch near-dup pairs via
    banded LSH + exact-Jaccard verify, keep each pair's min id (the batch
    funnel's one-pass heuristic); (2) ``match_new`` against the index —
    only the BATCH is shingled/signed, the corpus side is an index scan
    pruned to the batch's band buckets; (3) survivors append to the
    accepted table AND ``add`` to the index, so the next batch screens
    against them. The index is the steady-state cost model a 100 TB corpus
    needs: per-batch work tracks batch size, never corpus size. Only the
    append is keyed: a batch that failed between the append and the index
    write is skipped on replay, and the index misses its documents.

    ``family`` selects the MinHash hash family for BOTH screens:
    "xxhash64" (production default — JVM long hashing) or "crossengine"
    (md5+Karp-Rabin over string shingles), which makes every admission
    decision replayable in ANSI SQL — the registered
    ``streaming_curation_neardup_crossengine`` query drains a
    deterministic 3-batch feed under this family and its DuckDB oracle
    re-derives the full per-batch funnel (exact dedup → hash anti-join →
    in-batch banded LSH → persisted-index screen) value-for-value. Any
    other name raises ``ValueError`` before the stream starts.
    """
    from databricks_etl_pipelines_spark.operators.dedup import (
        MinHashCorpusIndex,
        _family,
        _minhash_pairs,
    )

    _family(family)  # a misspelt family fails here, not on the first batch

    def body(batch_df: DataFrame, txn: tuple[str, int]) -> None:
        spark = batch_df.sparkSession
        first = _exact_admit(batch_df, accepted, min_quality, text_col, id_col)
        # in-batch near-dups: drop the greater id of each verified pair
        pairs = _minhash_pairs(
            first, text_col, id_col, family, threshold, num_perm, bands
        )
        losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
        first = first.join(losers, id_col, "left_anti")
        # cross-batch near-dups: screen against the persisted corpus index
        index = MinHashCorpusIndex(index_root)
        if MinHashCorpusIndex.exists(index_root):
            matches = index.match_new(
                spark, first, text_col, id_col, threshold=threshold
            )
            dupes = matches.select(F.col("new_id").alias(id_col)).distinct()
            first = first.join(dupes, id_col, "left_anti")
        first = first.persist()  # consumed by the append and the index write
        try:
            accepted.append(first, txn=txn)
            if MinHashCorpusIndex.exists(index_root):
                index.add(spark, first, text_col, id_col)
            else:
                MinHashCorpusIndex.build(
                    first, text_col, id_col, index_root,
                    num_perm=num_perm, bands=bands, family=family,
                )
        finally:
            first.unpersist()

    return _each_batch(
        stream, checkpoint_dir, body, processing_time, tables=(accepted,),
        cache_batch=True,
    )


def reservoir_sample_stream(
    stream: DataFrame,
    sample: "ManagedTable",
    checkpoint_dir: str,
    k: int,
    id_col: str = "doc_id",
    seed: int = 42,
    processing_time: str | None = None,
    keep_versions: int = 8,
) -> StreamingQuery:
    """Fixed-size uniform corpus sample maintained over an unbounded
    stream — the distributed, deterministic equivalent of reservoir
    sampling (Vitter, Algorithm R, TOMS 1985): every row gets the pure
    (id, seed) uniform key from :func:`operators.curation.reservoir_key`
    and the sample IS the bottom-k by (key, id). Bottom-k of a union
    equals bottom-k of per-part bottom-k's (the fold is an idempotent,
    commutative semigroup), so the maintained sample is independent of
    how rows were split into micro-batches — after any drain it equals
    the one-shot batch bottom-k over everything that arrived, which is
    exactly what the SQL oracle asserts. The same k keys double as a KMV
    distinct-count sketch (Bar-Yossef et al., RANDOM 2002; see
    ``agg_kmv_distinct``).

    Per micro-batch: batch-local ``orderBy(key, id).limit(k)`` — a
    TakeOrderedAndProject, never a global sort — unioned with the ≤k-row
    persisted sample, re-capped to k, and committed as the new sample
    version, keyed by the batch. Per-batch cost tracks batch size + k;
    state is EXACTLY k rows regardless of stream length; a replayed batch
    whose commit landed is skipped, and re-delivered rows fold to the
    identical bottom-k anyway. ``id_col`` must
    be the stream's unique key; when a re-delivery carries a MUTATED
    payload for an id already in the sample, the FIRST-delivered payload
    wins deterministically — the batch's candidates are anti-joined
    against the persisted sample's ids (a broadcast of ≤k rows) before
    the union, so an id never overwrites itself. Sample membership is
    decided purely by the (id, seed) key, which payload mutation cannot
    change. Pinned by tests/test_streaming.py::
    test_reservoir_redelivery_first_payload_wins.

    On-disk state is bounded too: each micro-batch commits one new
    sample version, so after every commit the table is vacuumed down to
    the ``keep_versions`` most recent (ManagedTable.vacuum) — without
    this, a long-running stream's version history would grow linearly
    with batch count even though the LIVE sample is k rows. keep_versions
    >= 2 keeps the previous version readable for concurrent readers
    mid-commit; 0/negative disables vacuuming (audit/time-travel use).
    """
    from databricks_etl_pipelines_spark.operators.curation import (
        reservoir_key,
    )

    key = reservoir_key(id_col, seed)

    def body(batch_df: DataFrame, txn: tuple[str, int]) -> None:
        spark = batch_df.sparkSession
        cand = (
            batch_df.withColumn("sample_key", key)
            .orderBy("sample_key", id_col)
            .limit(k)
        )
        if sample.exists():
            # first-delivered payload wins: drop re-delivered ids from the
            # batch side (anti-join against the ≤k-row persisted sample —
            # always broadcastable) instead of an arbitrary-winner
            # dropDuplicates over the union
            prev = sample.read(spark)
            cand = prev.unionByName(
                cand.join(
                    F.broadcast(prev.select(id_col)), [id_col], "left_anti"
                )
            )
        sample.create_or_overwrite(
            cand.orderBy("sample_key", id_col).limit(k), txn=txn
        )
        if keep_versions > 0:
            sample.vacuum(keep_last=keep_versions)

    return _each_batch(
        stream, checkpoint_dir, body, processing_time, tables=(sample,)
    )


# State-store partition count for LATTICE-BOUNDED streaming aggregations
# (r16, guide §2.2/§2.4 applied to streaming state). Spark sizes streaming
# state partitioning from spark.sql.shuffle.partitions, pins it into the
# checkpoint at the first batch, and micro-batch plans get NO AQE
# coalescing — so a core-count-sized setting means core-count state
# stores, each paying per-batch commit/maintenance overhead, for an
# aggregate whose whole state is a few hundred lattice rows (hour ×
# event-type, dimension categories). State partitioning should track
# STATE SIZE, not core count: map-side partial aggregation already bounds
# the shuffled rows to #map_tasks × |lattice| at ANY corpus scale, so a
# small constant reduce width stays correct at 100 TB while removing the
# per-partition store overhead (measured locally: the tumbling drain at
# 32 state partitions costs 1.8-4.6 s vs 1.2-1.4 s at 4-8). Per-stream
# override via this session conf; unbounded-key state (per-user dedup,
# stream-stream join buffers) must keep the session-level width.
STREAM_STATE_PARTITIONS_CONF = "spark.databricks_etl.streamStatePartitions"
_SHUFFLE_WIDTH_LOCK = threading.Lock()


def drain_to_memory(
    df: DataFrame,
    output_mode: str = "complete",
    timeout_s: int = 300,
    bounded_state: bool = False,
) -> DataFrame:
    """Run a streaming frame to completion (availableNow) into a memory sink
    and return the result as a batch DataFrame. Test/correctness harness
    path — production sinks are parquet/Delta tables.

    ``bounded_state=True`` declares the stream's keyed state
    lattice-bounded; the drain then plans with
    ``min(streamStatePartitions (default 8), session shuffle width)``
    state partitions (see STREAM_STATE_PARTITIONS_CONF above). Results
    are identical either way — exact aggregation does not depend on the
    partition count (pinned by tests/test_streaming.py).

    Spark copies the session conf into the query's own session at
    ``start()``, so the narrowed width is set only around ``start()``,
    under a module lock: two drains on two threads cannot restore each
    other's value, and the session width is back before the drain runs.
    A non-integer session width does not cap the state partitions."""
    spark = df.sparkSession
    name = f"mem_{uuid.uuid4().hex[:12]}"
    writer = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    if bounded_state:
        with _SHUFFLE_WIDTH_LOCK:
            old_width = spark.conf.get("spark.sql.shuffle.partitions")
            n = int(spark.conf.get(STREAM_STATE_PARTITIONS_CONF, "8"))
            if old_width.isdigit():
                n = min(n, int(old_width))
            spark.conf.set("spark.sql.shuffle.partitions", str(n))
            try:
                q = writer.start()
            finally:
                spark.conf.set("spark.sql.shuffle.partitions", old_width)
    else:
        q = writer.start()
    await_drained(q, timeout_s)
    return df.sparkSession.table(name)


def bronze_stream_ingest(
    feed: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    partition_by: str = "ingestion_date",
    processing_time: str | None = None,
) -> StreamingQuery:
    """S2: exactly-once partitioned append sink.

    Default trigger is ``availableNow`` (drain-and-stop — the reference's
    batch-drain mode, 01:187). Pass ``processing_time`` (e.g.
    ``"1 second"``) for the reference's PRODUCTION mode (01:179,196): a
    long-running query that fires a micro-batch per interval and never
    stops on its own — pair with ``stop_after_drained`` for bounded
    sources, or leave running against a live feed. Both modes share the
    checkpoint contract, so results are identical for the same input
    (pinned by tests/test_streaming.py::
    test_processing_time_trigger_matches_available_now)."""
    writer = (
        feed.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy(partition_by)
        .outputMode("append")
    )
    return with_trigger(writer, processing_time).start()


def foreach_batch_merge(
    stream: DataFrame,
    target: ManagedTable,
    keys: list[str],
    checkpoint_dir: str,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    processing_time: str | None = None,
) -> StreamingQuery:
    """T3: per-micro-batch MERGE upsert (02:97-184 shape): optional
    transform, then a MERGE on ``keys`` keyed by the batch, so a replayed
    batch whose MERGE landed is skipped. ``processing_time`` switches from the
    availableNow drain to the production interval trigger (01:179,196) —
    the keyed MERGE is idempotent either way, so the two modes converge
    to the same table state for the same input."""

    def body(batch_df: DataFrame, txn: tuple[str, int]) -> None:
        out = transform(batch_df) if transform else batch_df
        target.merge_upsert(batch_df.sparkSession, out, keys, txn=txn)

    return _each_batch(
        stream, checkpoint_dir, body, processing_time, tables=(target,),
        cache_batch=True,
    )


_FOLD_FNS = {"sum": F.sum, "min": F.min, "max": F.max}


def _validate_fold_names(combine: dict[str, str] | None) -> None:
    """Reject unknown fold names. Called EAGERLY by
    :func:`incremental_aggregate` before the stream starts (a typo'd
    fold on a stream whose first batches are replayed would
    otherwise surface only mid-run) and again per batch by
    :func:`fold_partial_batch` (whose column-coverage check needs the
    partial's schema, only known per batch)."""
    if combine is None:
        return
    unknown = {c: f for c, f in combine.items() if f not in _FOLD_FNS}
    if unknown:
        raise ValueError(
            f"incremental_aggregate: unknown fold(s) {unknown!r} — "
            f"valid folds are {sorted(_FOLD_FNS)}"
        )


def fold_partial_batch(
    batch_df: DataFrame,
    batch_id: int,
    target: ManagedTable,
    keys: list[str],
    partial_agg: Callable[[DataFrame], DataFrame],
    checkpoint_dir: str,
    combine: dict[str, str] | None = None,
) -> None:
    """One micro-batch's exactly-once commutative-monoid fold into the
    gold table (the per-batch body of :func:`incremental_aggregate`).

    Each fold overwrites the gold keyed by ``(checkpoint_dir, batch_id)``
    (:func:`incremental_aggregate` passes its stream id as
    ``checkpoint_dir``), so a re-delivered batch folds nothing, and
    ownership is :func:`_claim`'s rule: batch 0 of another checkpoint
    takes the table over and seeds it from its own partial, a later one
    raises. A zero-row batch folds an empty partial, which leaves every
    row as it was."""
    txn = (checkpoint_dir, batch_id)
    claim = _claim(target, txn, "incremental_aggregate")
    if claim == "replay":
        return  # checkpoint replay of an already-folded batch
    spark = batch_df.sparkSession
    partial = partial_agg(batch_df)
    metric_cols = [c for c in partial.columns if c not in keys]
    if combine is not None:
        _validate_fold_names(combine)
        missing = [c for c in metric_cols if c not in combine]
        stray = [c for c in combine if c not in metric_cols]
        if missing or stray:
            # a metric column silently defaulting to "sum" corrupts a
            # min/max entity-state gold with no error — when the caller
            # names folds at all, the mapping must cover the partial's
            # metric columns exactly
            raise ValueError(
                "incremental_aggregate: combine mapping must cover the "
                f"partial aggregate's metric columns exactly; missing="
                f"{missing!r}, not-in-partial={stray!r} "
                f"(metric columns: {metric_cols!r})"
            )
    if target.exists() and claim == "fold":
        current = target.read(spark)
        fns = {c: _FOLD_FNS[(combine or {}).get(c, "sum")] for c in metric_cols}
        combined = (
            current.unionByName(partial)
            .groupBy(*keys)
            .agg(*[fns[c](c).alias(c) for c in metric_cols])
        )
    else:
        combined = partial
    target.create_or_overwrite(combined, txn=txn)


def incremental_aggregate(
    stream: DataFrame,
    target: ManagedTable,
    keys: list[str],
    partial_agg: Callable[[DataFrame], DataFrame],
    checkpoint_dir: str,
    processing_time: str | None = None,
    combine: dict[str, str] | None = None,
) -> StreamingQuery:
    """Incrementally-maintained gold aggregate (parity-plus M7 upgrade of
    the reference's full-recompute gold overwrite, 03:62-64): each
    micro-batch computes a partial aggregate over just its own rows and
    folds it ADDITIVELY into the gold table — union with the current gold
    rows and re-aggregate on the group keys. Gold is correct after every
    batch without ever rescanning history, and the fold is EXACTLY-ONCE
    under checkpoint replay (see :func:`fold_partial_batch`: each gold
    version is keyed by ``(stream id, batch_id)``, so re-delivered
    batches are no-ops).

    ``partial_agg`` must produce ``keys`` + decomposable metric columns.
    ``combine`` omitted folds every metric column with "sum"; when
    PROVIDED it must map EVERY metric column to a known fold ("sum",
    "min", "max" — validated, a partial mapping raises instead of
    silently summing an entity-state column; any commutative monoid
    makes the maintenance both order-independent across batch splits
    and idempotent-per-batch, so per-entity firsts/lasts fold as safely
    as counts; derive ratios downstream). Fold NAMES are validated
    EAGERLY, before the stream starts; column coverage is validated per
    batch once the partial's schema is known. The fold is one key-hash shuffle of |gold| + |batch
    partial| rows — at scale that is the whole point: cost tracks the
    AGGREGATE size, not the fact-history size.
    """
    _validate_fold_names(combine)

    def body(batch_df: DataFrame, txn: tuple[str, int]) -> None:
        fold_partial_batch(
            batch_df, txn[1], target, keys, partial_agg, txn[0], combine
        )

    return _each_batch(
        stream, checkpoint_dir, body, processing_time, tables=(target,)
    )


def _frame(spark: SparkSession, rows: pa.Table | DataFrame) -> DataFrame:
    """``rows`` as a DataFrame; an Arrow table becomes a local relation,
    which Spark plans without a scan job."""
    return spark.createDataFrame(rows) if isinstance(rows, pa.Table) else rows


class StreamingMedallion:
    """The reference's full streaming pipeline shape (01+02+03) as ONE
    foreachBatch flow: per micro-batch — validate/split (quarantine append),
    PII mask + enrich, keyed MERGE into silver, and an ADDITIVE fold of the
    hourly gold aggregate (incremental maintenance instead of the
    reference's batch overwrite, 03:62-64). Per-batch cost tracks batch
    size + aggregate size, never table history.

    Each batch starts with ONE collect: the stream is projected once, in
    :meth:`start` (``medallion.silver_projection`` plus the silver bucket
    id), so Spark plans that projection into each batch, which is
    collected as Arrow, up to ``managed_table.CAP_ROWS`` + 1 rows, and
    split on the driver on its valid flag; the quarantine append, the
    silver MERGE and the gold fold commit from that Arrow table. That
    collect is the batch's only Spark job when silver is bucketed
    (``bucket_silver``), after the first batch (whose creates run on
    Spark), and while each table's prior files stay under
    ``local_probe.LOCAL_PROBE_MAX_BYTES``. Without ``bucket_silver`` the
    MERGE has no driver path and runs on Spark every batch.

    A batch over ``CAP_ROWS`` takes the DataFrame path from the same
    projection, with its silver slice cached for the MERGE and the fold.
    Its capped collect is discarded, so after a batch over the cap the
    next batch is counted (a scan that decodes no column) instead of
    collected, and takes the DataFrame path too; the count then tells
    whether the batch after it is collected again. A stream of large
    batches discards one capped collect, at its first large batch.

    Each batch is exactly-once: its quarantine append, silver MERGE (or
    first create) and gold fold are keyed by ``(stream id, batch_id)``. A
    replay whose three tables hold the key returns before its collect;
    one that failed part-way redoes only its missing commits.
    Gold is exact: the fold adds the batch's silver rows and subtracts the
    rows its MERGE replaced, so a re-sent id counts once, and a cell whose
    count reaches 0 is dropped.

    ``bucket_silver=N`` lays silver out as N key-hash buckets on
    transaction_id: each micro-batch MERGE then rewrites only the buckets
    its keys land in and hardlinks the rest, so steady-state write
    amplification is O(touched/N) of the table per batch instead of O(1)
    full rewrites — the property that keeps an always-on upsert stream
    viable against a 100 TB silver table.
    """

    GOLD_KEYS = ["event_date", "event_hour", "card_network", "mcc_category"]
    GOLD = GOLD_KEYS + ["txn_count", "total_volume"]
    KEYS = ["transaction_id"]

    def __init__(
        self, spark: SparkSession, root: str, bucket_silver: int | None = None
    ):
        self.spark = spark
        self.silver = ManagedTable(os.path.join(root, "silver"))
        self.quarantine = ManagedTable(os.path.join(root, "quarantine"))
        self.gold_hourly = ManagedTable(os.path.join(root, "gold_hourly"))
        self.bucket_silver = bucket_silver
        # whether the last batch was over CAP_ROWS: the next one is then
        # counted, not collected, so a stream of large batches does not
        # discard a capped collect every batch
        self._last_over_cap = False

    def _cells(self, rows: pa.Table | DataFrame, sign: int) -> pa.Table | DataFrame:
        """The hourly cells of silver ``rows``: ``sign`` times their count
        and amount sum, each sum taken in one row order on both paths: new
        rows (``sign`` 1) in batch order, which Spark keeps on a
        single-split batch, prior rows by (transaction_id, amount)."""
        keys, order = self.GOLD_KEYS, ["transaction_id", "amount"]
        if isinstance(rows, pa.Table):
            if sign < 0:
                rows = rows.sort_by([(c, "ascending") for c in order])
            cells = rows.group_by(keys, use_threads=False).aggregate(
                [([], "count_all"), ("amount", "sum")]
            )
            counts = pc.multiply(cells["count_all"], sign)
            volumes = pc.multiply(cells["amount_sum"], float(sign))
            return pa.table([*(cells[k] for k in keys), counts, volumes], self.GOLD)
        if sign < 0:
            rows = rows.repartition(1).sortWithinPartitions(*order)
        return rows.groupBy(*keys).agg(
            (F.count("*") * sign).alias("txn_count"),
            (F.sum("amount") * float(sign)).alias("total_volume"),
        )

    def _add_cells(self, a: pa.Table | DataFrame, b: pa.Table | DataFrame):
        """``a + b`` per cell, on the driver when both are Arrow. Each cell
        adds at most two values, and IEEE addition of two values commutes,
        so both paths give the same doubles."""
        keys, sums = self.GOLD_KEYS, self.GOLD[len(self.GOLD_KEYS):]
        if isinstance(a, pa.Table) and isinstance(b, pa.Table):
            return (
                pa.concat_tables([a, b.select(a.column_names)])
                .group_by(keys)
                .aggregate([(c, "sum") for c in sums])
                .select(keys + [f"{c}_sum" for c in sums])
                .rename_columns(keys + sums)
            )
        return (
            _frame(self.spark, a)
            .unionByName(_frame(self.spark, b))
            .groupBy(*keys)
            .agg(*(F.sum(c).alias(c) for c in sums))
        )

    def _fold_gold(
        self,
        new: pa.Table | DataFrame,
        prior: pa.Table | DataFrame | None = None,
        txn: tuple[str, int] | None = None,
    ) -> None:
        """Fold one batch into gold as ``gold + (new - prior)`` per cell:
        ``new`` is the batch's silver slice and ``prior`` the silver rows
        its MERGE replaced. A cell whose count reaches 0 is dropped. The
        fold runs on the driver while gold is small, and the order of
        IEEE operations per cell is the same on both paths, so they give
        the same doubles bit for bit."""
        delta = self._cells(new, 1)
        if prior is not None:
            delta = self._add_cells(delta, self._cells(prior, -1))
        gold = self.gold_hourly
        local = gold._touched_local(delta, None, "fold") if gold.exists() else None
        if local is not None:
            batch, _, current = local
            folded = self._add_cells(current, batch)
        elif gold.exists():
            folded = self._add_cells(gold.read(self.spark), delta)
        else:
            folded = delta
        count = (pc.field if isinstance(folded, pa.Table) else F.col)("txn_count")
        gold.create_or_overwrite(folded.filter(count != 0), txn=txn)

    def _commit_batch(
        self,
        quarantined: pa.Table | DataFrame,
        silver: pa.Table | DataFrame,
        source: pa.Table | DataFrame,
        txn: tuple[str, int],
    ) -> None:
        """Append the batch's quarantined rows, MERGE its silver slice and
        fold that slice into gold, each keyed by ``txn`` and skipped when
        it already landed. ``source`` is the MERGE's copy of ``silver``:
        with its bucket ids when collected on the driver."""
        self.quarantine.append(quarantined, txn=txn)
        prior = None
        if self.silver._committed(txn):
            # the fold failed after the MERGE: time travel to the version
            # before the keyed one for the rows the MERGE replaced
            version = self.silver._last_txn(txn[0])["version"]
            if version > 0:
                prior = self.silver.read(self.spark, version - 1).join(
                    _frame(self.spark, silver).select(*self.KEYS).distinct(),
                    self.KEYS,
                    "left_semi",
                )
        elif self.bucket_silver and not self.silver.exists():
            # first batch creates the bucket layout; every later MERGE
            # dispatches onto the bucket-pruned path automatically
            self.silver.create_or_overwrite(
                _frame(self.spark, silver),
                bucket_by=self.KEYS,
                n_buckets=self.bucket_silver,
                txn=txn,
            )
        else:
            prior = self.silver.merge_upsert(self.spark, source, self.KEYS, txn=txn)
        self._fold_gold(silver, prior, txn)

    def start(
        self, stream: DataFrame, checkpoint_dir: str,
        processing_time: str | None = None,
    ) -> StreamingQuery:
        from databricks_etl_pipelines_spark.plans.medallion import (
            VALID_COL,
            silver_projection,
        )

        # projected once, on the stream: each batch arrives projected
        stream, quarantine_cols, silver_cols = silver_projection(stream)
        bucket = self.silver.merge_bucket(self.KEYS, self.bucket_silver)
        if bucket:
            stream = stream.withColumn(*bucket)

        def process(projected: DataFrame, txn: tuple[str, int]) -> None:
            capped = projected.limit(managed_table.CAP_ROWS + 1)
            local = None if self._last_over_cap else capped.toArrow()
            n_rows = capped.count() if local is None else local.num_rows
            if n_rows == 0:
                return  # the reference's empty-batch guard (T6, 02:106)
            self._last_over_cap = n_rows > managed_table.CAP_ROWS
            if local is not None and not self._last_over_cap:
                valid = local[VALID_COL]
                rows = local.filter(valid)
                silver = rows.select(silver_cols)
                self._commit_batch(
                    local.filter(pc.invert(valid)).select(quarantine_cols),
                    silver,
                    # the MERGE's driver path takes the collected bucket ids
                    rows.select(silver_cols + [bucket[0]]) if bucket else silver,
                    txn,
                )
                return
            valid = F.col(VALID_COL)
            # the MERGE and the gold fold both read the silver slice
            silver = projected.filter(valid).select(*silver_cols).persist()
            try:
                self._commit_batch(
                    projected.filter(~valid).select(*quarantine_cols),
                    silver,
                    silver,
                    txn,
                )
            finally:
                silver.unpersist()

        tables = (self.quarantine, self.silver, self.gold_hourly)
        return _each_batch(stream, checkpoint_dir, process, processing_time, tables)


def tumbling_window_counts(
    stream: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Event-time tumbling window aggregation with watermark."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window), F.col("event_type"))
        .agg(
            F.count("*").alias("event_count"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "event_count",
            "total_value",
        )
    )


def sliding_window_counts(
    stream: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window, slide))
        .agg(F.count("*").alias("event_count"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_count",
        )
    )


def session_window_stats(
    df: DataFrame,
    ts_col: str = "ts",
    gap: str = "5 minutes",
    key: str = "user_id",
) -> DataFrame:
    """Session windows (gap-based). Works identically on batch and
    streaming frames; streaming requires a watermark + append mode."""
    return (
        df.groupBy(F.session_window(F.col(ts_col), gap), F.col(key))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col(key),
            # explicit TIMESTAMP cast: keeps harness pandas canonicalization
            # free of ns-vs-µs dtype drift vs the DuckDB oracle
            F.col("session_window.start").cast("timestamp").alias(
                "session_start"
            ),
            "n_events",
        )
    )


def streaming_dedup(
    stream: DataFrame, keys: list[str], watermark_col: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming dropDuplicates; watermark bounds the dedup state store."""
    if watermark_col:
        stream = stream.withWatermark(watermark_col, watermark)
    return stream.select(*keys).dropDuplicates(keys)


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts_col: str = "ts",
    within: str = "10 minutes",
    watermark: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join bounded by an event-time interval: a right event
    matches a left event with the same key when it lands within ``within``
    AFTER it. Both sides carry watermarks + the time bound, so Spark can
    evict join state — the required shape for unbounded stream-stream
    joins (state grows without the interval condition).

    ``how='leftOuter'`` additionally emits unmatched left rows
    null-extended — but only once the watermark passes their match window
    (emission happens in a LATER micro-batch than the row itself; a
    single-batch drain will not surface them).
    Returns (key, left event/ts, right event/ts, lag_seconds)."""
    lhs = left.withWatermark(ts_col, watermark).select(
        F.col(key).alias("l_key"),
        F.col("event_id").alias("l_event_id"),
        F.col(ts_col).alias("l_ts"),
    )
    rhs = right.withWatermark(ts_col, watermark).select(
        F.col(key).alias("r_key"),
        F.col("event_id").alias("r_event_id"),
        F.col(ts_col).alias("r_ts"),
    )
    cond = (
        (F.col("l_key") == F.col("r_key"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {within}"))
    )
    return lhs.join(rhs, cond, how).select(
        F.col("l_key").alias(key),
        "l_event_id",
        F.col("l_ts").cast("timestamp").alias("l_ts"),
        "r_event_id",
        F.col("r_ts").cast("timestamp").alias("r_ts"),
        # exact integer-µs subtraction, then one small division: casting
        # each timestamp to double first loses ~1e-7 s at epoch magnitude
        # (caught by the sf0.1 differential run — 10 drifted cells)
        (
            (F.unix_micros("r_ts") - F.unix_micros("l_ts")) / F.lit(1e6)
        ).alias("lag_seconds"),
    )


def progress_summary(query: StreamingQuery) -> list[dict]:
    """T5 stream-health introspection (01:216-218): per-micro-batch
    batchId / numInputRows / processedRowsPerSecond from recentProgress."""
    out = []
    for p in query.recentProgress:
        out.append(
            {
                "batchId": p.get("batchId"),
                "numInputRows": p.get("numInputRows"),
                "processedRowsPerSecond": p.get("processedRowsPerSecond"),
            }
        )
    return out


def stateful_user_totals(
    stream: DataFrame,
    key_col: str = "user_id",
    value_col: str = "value",
    inactivity_timeout_ms: int = 0,
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-key
    running totals (event count, value sum) maintained in the state store
    ACROSS micro-batches — the arbitrary-state form the built-in windowed
    aggregations can't express (e.g. lifetime per-entity counters, custom
    session logic, model-state updates).

    Scale notes: state is partitioned by the grouping key (one shuffle per
    micro-batch, same as any keyed agg); per-key state here is two numbers,
    so 10⁹ keys ≈ tens of GB across the cluster — bound it with
    ``inactivity_timeout_ms`` (> 0 evicts idle keys, the streaming analog
    of a watermark for arbitrary state).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        f"{key_col} bigint, events_total bigint, value_total double"
    )
    state_schema = "events bigint, total double"
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if inactivity_timeout_ms > 0
        else GroupStateTimeout.NoTimeout
    )

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        events, total = (state.get if state.exists else (0, 0.0))
        for pdf in pdfs:
            events += int(len(pdf))
            total += float(pdf[value_col].sum())
        state.update((events, total))
        if inactivity_timeout_ms > 0:
            state.setTimeoutDuration(inactivity_timeout_ms)
        yield pd.DataFrame(
            {
                key_col: [key[0]],
                "events_total": [events],
                "value_total": [total],
            }
        )

    return stream.groupBy(key_col).applyInPandasWithState(
        update, out_schema, state_schema, "update", timeout
    )


def dsir_score_stream(
    stream: DataFrame,
    ratios: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
    processing_time: str | None = None,
) -> StreamingQuery:
    """Score an incoming document stream against a PREBUILT DSIR domain
    profile (operators/curation.py:dsir_log_ratios): per micro-batch, a
    stream-static broadcast join of the bucket log-ratios + a batch-local
    per-doc aggregate, appended to ``out_dir``. The profile is fixed —
    the steady-state "is this crawl batch target-like?" filter of a
    continuous ingest; per-batch cost tracks the batch size, never the
    corpus. Replay-idempotent: each batch writes its own
    ``batch_id=<n>`` partition with OVERWRITE, so a batch re-delivered
    after a crash between write and checkpoint commit replaces its own
    output instead of appending duplicates."""
    from databricks_etl_pipelines_spark.operators.curation import dsir_score

    def body(batch_df: DataFrame, txn: tuple[str, int]) -> None:
        scored = dsir_score(batch_df, ratios, text_col, id_col, n_buckets)
        scored.write.mode("overwrite").parquet(f"{out_dir}/batch_id={txn[1]}")

    return _each_batch(
        stream, checkpoint_dir, body, processing_time, cache_batch=True
    )


def perplexity_gate_stream(
    stream: DataFrame,
    word_scores: DataFrame,
    cutoffs: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "lang",
    processing_time: str | None = None,
) -> StreamingQuery:
    """The CCNet quality gradient as a CONTINUOUS ingest gate: the
    unigram LM profile (word → lattice surprisal) and the per-language
    tercile cutoffs are built ONCE from a reference corpus
    (operators/curation.py::perplexity_word_scores / perplexity_cutoffs)
    and every arriving micro-batch is scored and bucketed against them —
    the steady-state "is this crawl batch head, middle or tail?" filter.

    Scale shape per batch: one stream-static equi-join against the
    vocabulary relation (AQE broadcasts it while small), one per-doc
    aggregate, one broadcast join against the tiny cutoff table; cost
    tracks the batch, never the corpus. Per-doc scores are stateless, so
    a drained union equals the batch bucketing exactly (the oracle is
    the batch SQL verbatim). Replay-idempotent via per-batch OVERWRITE
    partitions."""
    from databricks_etl_pipelines_spark.operators.curation import (
        perplexity_label,
        perplexity_score,
    )

    def body(batch_df: DataFrame, txn: tuple[str, int]) -> None:
        per_doc = perplexity_score(
            batch_df, word_scores, text_col, id_col, group_col
        )
        labeled = perplexity_label(per_doc, cutoffs, id_col, group_col)
        labeled.write.mode("overwrite").parquet(f"{out_dir}/batch_id={txn[1]}")

    return _each_batch(stream, checkpoint_dir, body, processing_time)


def decontaminate_stream(
    stream: DataFrame,
    bench_ngrams: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram_n: int = 13,
    min_hits: int = 1,
    processing_time: str | None = None,
) -> StreamingQuery:
    """Eval-benchmark decontamination as a CONTINUOUS ingest gate: every
    arriving micro-batch is scored against a FIXED, prebuilt benchmark
    n-gram relation (operators/curation.py::benchmark_ngrams — build
    once, persist, broadcast into every batch). The online counterpart
    of decontaminate_report: a corpus that admits documents continuously
    must scrub them against the eval sets continuously, or contamination
    lands between quarterly batch scrubs.

    Scale shape per batch: the benchmark set is eval-sized and already
    materialized, so each batch pays ONE scan of itself — a broadcast
    marker join plus a per-doc aggregate; cost tracks the batch, never
    the accumulated corpus (per-doc scores are independent, so there is
    no cross-batch state at all — unlike near-dup admission).
    Replay-idempotent: each batch OVERWRITES its own ``batch_id=<n>``
    partition, so a crash between write and checkpoint commit replaces
    instead of duplicating."""
    from databricks_etl_pipelines_spark.operators.curation import (
        decontaminate_score,
    )

    def body(batch_df: DataFrame, txn: tuple[str, int]) -> None:
        report = decontaminate_score(
            batch_df, bench_ngrams, text_col, id_col, ngram_n, min_hits
        )
        report.write.mode("overwrite").parquet(f"{out_dir}/batch_id={txn[1]}")

    return _each_batch(stream, checkpoint_dir, body, processing_time)


def countmin_stream(
    stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    processing_time: str | None = None,
) -> StreamingQuery:
    """Count-Min sketch maintained over an unbounded document stream:
    each micro-batch reduces to its (word, n) vocabulary, hashes it into
    d×w PARTIAL counter cells (plans/queries_aggregates.py:
    countmin_cells — hash work ∝ batch vocabulary, never batch tokens),
    and writes them to its own ``batch_id=<n>`` partition. Counters are
    mergeable BY ADDITION, so summing the per-batch partials gives
    bit-exactly the one-shot batch sketch however the stream was split —
    the property the hard oracle asserts (same SQL as
    ``agg_countmin_words``).

    Replay-idempotent: CM addition is NOT idempotent (a re-delivered
    batch would double-count), so partials go to per-batch OVERWRITE
    partitions — the same exactly-once recipe as dsir_score_stream —
    and the merge happens at READ time, not in a mutable accumulator.
    State per batch is ≤ d·w cells; the drained sketch is ≤ d·w rows
    whatever the stream length."""
    from databricks_etl_pipelines_spark.functions.textfns import tokens
    from databricks_etl_pipelines_spark.plans.queries_aggregates import (
        countmin_cells,
    )

    def body(batch_df: DataFrame, txn: tuple[str, int]) -> None:
        wc = (
            batch_df.select(F.explode(tokens(text_col)).alias("word"))
            .groupBy("word")
            .agg(F.count("*").alias("n"))
        )
        countmin_cells(wc).write.mode("overwrite").parquet(
            f"{out_dir}/batch_id={txn[1]}"
        )

    return _each_batch(stream, checkpoint_dir, body, processing_time)


def countmin_merge(spark: SparkSession, out_dir: str) -> DataFrame:
    """Merge the per-batch partial cells written by
    :func:`countmin_stream` into the final (r, b, c) counters — one sum
    per cell over ≤ n_batches·d·w partial rows."""
    return (
        spark.read.parquet(out_dir)
        .groupBy("r", "b")
        .agg(F.sum("c").alias("c"))
    )


BLOOM_DEDUP_K = 3
BLOOM_DEDUP_M = 32768


def bloom_dedup_stream(
    stream: DataFrame,
    state: "ManagedTable",
    out_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = BLOOM_DEDUP_K,
    m: int = BLOOM_DEDUP_M,
    processing_time: str | None = None,
) -> StreamingQuery:
    """Approximate streaming dedup with BOUNDED state: a Bloom filter
    over normalized-text keys replaces dropDuplicates' per-key state
    store (which grows with the true distinct count — unbounded on an
    unbounded stream). Per micro-batch: batch-local exact dedup (min id
    per key), probe the persisted bit set, write per-rep admission
    decisions to a replay-idempotent ``b=<n>`` partition, then fold the
    batch's bit positions into the state, keyed by the batch: a replayed
    batch whose state landed is skipped, and one that failed between the
    two writes rewrites identical decisions.

    Replay safety is different from Count-Min's and worth the contrast:
    Bloom INSERTION is idempotent (set union — a re-delivered batch
    re-sets the same bits), but a replayed batch must not PROBE bits it
    inserted itself before the crash, so the state stores
    (pos, first_batch) with min-fold and the probe only consults
    positions with ``first_batch < batch_id``. State is ≤ m rows
    (positions saturate, never grow — the 100 TB property); a saturated
    filter degrades to rejecting, so size m to the expected distinct
    keys (k·n ≈ 0.7·m for the classic 50% load).

    False drops (a unique doc rejected on hash collisions) are the
    accuracy price; the caller reads them off the decisions by joining
    against exact history — `streaming_bloom_dedup`'s oracle compares
    that accounting value-for-value."""
    from databricks_etl_pipelines_spark.functions.textfns import (
        fingerprint_rolling,
        normalized_text,
    )

    def positions(df: DataFrame) -> DataFrame:
        hs = df.sparkSession.range(k).select(F.col("id").alias("i"))
        return df.crossJoin(F.broadcast(hs)).select(
            "key",
            "doc_id",
            (
                fingerprint_rolling(
                    F.md5(
                        F.concat(
                            F.lit("bfd"),
                            F.col("i").cast("string"),
                            F.lit(":"),
                            F.col("key"),
                        )
                    )
                )
                % m
            ).alias("pos"),
        )

    def body(batch_df: DataFrame, txn: tuple[str, int]) -> None:
        spark, batch_id = batch_df.sparkSession, txn[1]
        reps = (
            batch_df.select(
                F.md5(normalized_text(text_col)).alias("key"),
                F.col(id_col).alias("doc_id"),
            )
            .groupBy("key")
            .agg(F.min("doc_id").alias("doc_id"))
        )
        pos = positions(reps)
        batch_bits = pos.select(
            "pos", F.lit(batch_id).cast("bigint").alias("first_batch")
        )
        current = state.read(spark) if state.exists() else batch_bits.limit(0)
        prior = current.filter(F.col("first_batch") < F.lit(batch_id))
        hits = (
            pos.join(
                F.broadcast(prior.select("pos")), "pos", "left_semi"
            )
            .groupBy("key", "doc_id")
            .agg(F.count("*").alias("hits"))
        )
        decisions = (
            pos.select("key", "doc_id")
            .distinct()
            .join(hits, ["key", "doc_id"], "left")
            .select(
                "doc_id",
                "key",
                F.lit(batch_id).cast("bigint").alias("batch_id"),
                (F.coalesce("hits", F.lit(0)) == k).cast("int").alias(
                    "bloom_rejected"
                ),
            )
        )
        # partition dir named b=<n> (not batch_id=<n>): decisions carry
        # batch_id as a DATA column, and a same-named partition column
        # would shadow it with an int32 at read time
        decisions.write.mode("overwrite").parquet(
            f"{out_dir}/b={batch_id}"
        )
        merged = (
            current.unionByName(batch_bits)
            .groupBy("pos")
            .agg(F.min("first_batch").alias("first_batch"))
        )
        state.create_or_overwrite(merged, txn=txn)

    return _each_batch(
        stream, checkpoint_dir, body, processing_time, tables=(state,),
        cache_batch=True,
    )


def snapshot_fold_stream(
    stream: DataFrame,
    state_root: str,
    checkpoint_dir: str,
    state_fields: list[tuple[str, object]],
    fold_expr: Callable,
    key_col: str = "user_id",
    value_col: str = "value",
    order_cols: tuple[str, str] = ("ts", "event_id"),
    processing_time: str | None = None,
    op_name: str = "snapshot_fold_stream",
) -> StreamingQuery:
    """The RUNNING-VALUE stateful-operator skeleton: per-key sequential
    recurrences (EMA, CUSUM, any fold where state is a value, not a
    commutative aggregate) maintained over a stream as one keyed state
    table, ``ManagedTable(state_root)``. Batch N folds its own
    (order_cols)-ordered rows onto the latest version and writes the full
    keyed state as the next one with ``create_or_overwrite(txn=(stream
    id, N))``. A replayed batch whose state landed is skipped before any
    job runs, so the latest version is always batch N−1's and nothing is
    folded twice. Batch 0 seeds from empty state; a later batch that finds
    no state table raises ``ValueError`` (lost state is not rebuilt from
    the middle of the stream).

    ``state_fields`` = [(name, DataType), ...] — the operator's state
    columns. ``fold_expr(seeded, xs, rs, prev) -> {name: Column}``
    computes the post-batch state for keys present in the batch: ``xs``
    is the batch's time-ordered value array, ``rs`` the (o1, o2, value)
    struct array, ``prev`` a dict of the key's prior state columns
    (operator fields + ``n_events``/``last_value``/``last_ts``/
    ``last_eid`` bookkeeping; all NULL for a fresh key), and ``seeded``
    is true when prior state exists. Keys absent from the batch carry
    their state forward unchanged; bookkeeping columns are maintained by
    the skeleton.

    Correctness contract (the daily-ingest discipline): batches must
    arrive in event-time order — every row of batch N after every row of
    batch N−1 in the (o1, o2) total order. Then batch-sequential folding
    is ASSOCIATIVELY equal to the one-shot fold (same op sequence — for
    float states the same IEEE doubles; fold values are stored raw,
    rounding happens only at read). The contract is ENFORCED, not
    assumed: each key's state carries its last folded (o1, o2), and a
    batch containing a row at-or-before a key's watermark raises
    ValueError instead of silently folding old values after new ones
    into plausible-wrong state (one bounded keys-in-batch count per
    micro-batch). State per version is one row per key (the floor for
    any per-key stateful op); older versions are retention, not state.

    Run ownership is :func:`_claim`'s rule, read from the key: when the
    newest state version is keyed by another stream (a checkpoint
    recreated at the same path is another stream), batch 0 takes
    ``state_root`` over with a warning (it seeds from empty state anyway)
    and a later batch raises ``ValueError`` instead of folding onto
    another query's state."""
    from pyspark.sql.types import LongType, StructField, StructType

    state = ManagedTable(state_root)
    state_names = [n for n, _t in state_fields]
    book_names = ["n_events", "last_value", "last_ts", "last_eid"]

    def body(batch_df: DataFrame, txn: tuple[str, int]) -> None:
        batch_id = txn[1]
        _claim(state, txn, op_name)
        if batch_id > 0 and not state.exists():
            raise ValueError(
                f"{op_name}: batch {batch_id} of checkpoint "
                f"{checkpoint_dir!r} found no state at {state_root!r}: the "
                "state was lost or the query points at the wrong state_root; "
                "clear the checkpoint to rebuild from batch 0"
            )
        spark = batch_df.sparkSession
        o1, o2 = order_cols
        arr = F.array_sort(
            F.collect_list(F.struct(o1, o2, value_col))
        )
        g = batch_df.groupBy(F.col(key_col).alias("k")).agg(
            arr.alias("rs"), F.count("*").alias("bn")
        )
        xs = F.transform("rs", lambda r: r[value_col])
        if batch_id > 0:
            prev_snap = state.read(spark)
        else:
            # first-batch empty seed: derive key/order/value types from
            # the batch itself (a hardcoded long/timestamp DDL would
            # break the full join or the watermark struct comparison
            # for a string key or non-timestamp order columns)
            bt = {f.name: f.dataType for f in batch_df.schema.fields}
            prev_snap = spark.createDataFrame(
                [],
                StructType(
                    [StructField("k", bt[key_col])]
                    + [StructField(n, t) for n, t in state_fields]
                    + [
                        StructField("n_events", LongType()),
                        StructField("last_value", bt[value_col]),
                        StructField("last_ts", bt[o1]),
                        StructField("last_eid", bt[o2]),
                    ]
                ),
            )
        j = g.join(prev_snap, "k", "full")
        # enforce the chronological contract: a batch row at-or-before
        # a key's folded watermark would silently corrupt the
        # recurrence — fail loudly instead (bounded: keys in batch)
        bmin = F.element_at(F.col("rs"), 1)
        stale = j.filter(
            F.col("rs").isNotNull()
            & F.col("last_ts").isNotNull()
            & (
                F.struct(
                    bmin[o1].alias("a"), bmin[o2].alias("b")
                )
                <= F.struct(
                    F.col("last_ts").alias("a"),
                    F.col("last_eid").alias("b"),
                )
            )
        ).count()
        if stale:
            raise ValueError(
                f"{op_name}: batch {batch_id} contains {stale} key(s) "
                f"with rows at or before their folded ({o1}, {o2}) "
                "watermark — batches must partition the event-time "
                "order into contiguous ranges (the daily-ingest "
                "contract); folding out-of-order input would produce "
                "silently wrong state"
            )
        seeded = F.col(state_names[0]).isNotNull()
        in_batch = F.col("rs").isNotNull()
        prev_cols = {n: F.col(n) for n in state_names + book_names}
        folds = fold_expr(seeded, xs, F.col("rs"), prev_cols)
        snap = j.select(
            "k",
            *[
                F.when(in_batch, folds[n])
                .otherwise(F.col(n))
                .alias(n)
                for n in state_names
            ],
            (
                F.coalesce(F.col("n_events"), F.lit(0))
                + F.coalesce(F.col("bn"), F.lit(0))
            ).alias("n_events"),
            F.when(in_batch, F.element_at(xs, -1))
            .otherwise(F.col("last_value"))
            .alias("last_value"),
            F.when(in_batch, F.element_at(F.col("rs"), -1)[o1])
            .otherwise(F.col("last_ts"))
            .alias("last_ts"),
            F.when(in_batch, F.element_at(F.col("rs"), -1)[o2])
            .otherwise(F.col("last_eid"))
            .alias("last_eid"),
        )
        state.create_or_overwrite(snap, txn=txn)

    return _each_batch(
        stream, checkpoint_dir, body, processing_time, tables=(state,),
        cache_batch=True,
    )


def ema_stream(
    stream: DataFrame,
    state_root: str,
    checkpoint_dir: str,
    key_col: str = "user_id",
    value_col: str = "value",
    order_cols: tuple[str, str] = ("ts", "event_id"),
    processing_time: str | None = None,
) -> StreamingQuery:
    """Per-key exponential moving average maintained INCREMENTALLY over
    a stream (dyadic alphas 1/2 and 1/4) — the stateful closure of the
    batch ``window_ema_smoothing`` fold, riding the shared
    :func:`snapshot_fold_stream` skeleton (the keyed state table's
    replay rule, chronological-contract enforcement, run ownership — see
    there).
    Keys with prior state seed from it and fold the whole batch array;
    fresh keys seed from their first value and fold the tail —
    bit-identical to the one-shot fold's s0 = x0."""
    from pyspark.sql.types import DoubleType

    def fold(seeded, xs, rs, prev):
        xs_eff = F.when(seeded, xs).otherwise(
            F.slice(xs, F.lit(2), F.size(xs) - 1)
        )
        init_h = F.coalesce(prev["ema_half"], F.element_at(xs, 1))
        init_q = F.coalesce(prev["ema_quarter"], F.element_at(xs, 1))
        return {
            "ema_half": F.aggregate(
                xs_eff, init_h, lambda a, x: (a + x) / F.lit(2.0)
            ),
            "ema_quarter": F.aggregate(
                xs_eff,
                init_q,
                lambda a, x: (a * F.lit(3.0) + x) / F.lit(4.0),
            ),
        }

    return snapshot_fold_stream(
        stream,
        state_root,
        checkpoint_dir,
        [("ema_half", DoubleType()), ("ema_quarter", DoubleType())],
        fold,
        key_col,
        value_col,
        order_cols,
        processing_time,
        op_name="ema_stream",
    )


def cusum_stream(
    stream: DataFrame,
    state_root: str,
    checkpoint_dir: str,
    k_cents: int,
    h_cents: int,
    key_col: str = "user_id",
    value_col: str = "value",
    order_cols: tuple[str, str] = ("ts", "event_id"),
    processing_time: str | None = None,
) -> StreamingQuery:
    """Per-key one-sided CUSUM change-point detection maintained over a
    stream — the stateful closure of the batch
    ``window_cusum_changepoint`` fold, riding the shared
    :func:`snapshot_fold_stream` skeleton (keyed state table, replay and
    ownership rules — see there). State per key is 3 int64s
    (running excess, max excess, sticky 1-based first-alarm index; the
    step counter is the skeleton's ``n_events`` bookkeeping), all on
    the cents lattice, so batch-sequential folding over chronological
    batches is ENGINE-EXACT equal to the one-shot fold — no IEEE
    caveat at all, integer recurrences commute with any contiguous
    batch split."""
    from pyspark.sql.types import LongType

    def fold(seeded, xs, rs, prev):
        zero = F.lit(0).cast("long")
        cents = F.transform(
            xs, lambda v: F.floor(v * 100 + F.lit(0.5)).cast("long")
        )
        init = F.struct(
            F.coalesce(prev["final_cusum"], zero).alias("m"),
            F.coalesce(prev["max_cusum"], zero).alias("mx"),
            F.coalesce(prev["alarm_index"], zero).alias("alarm"),
            # the alarm index is GLOBAL over the key's whole event
            # sequence: the step counter resumes from the events
            # already folded in prior batches
            F.coalesce(prev["n_events"], zero).alias("pos"),
        )

        def step(acc, x):
            m = F.greatest(zero, acc["m"] + x - F.lit(k_cents))
            mx = F.greatest(acc["mx"], m)
            pos = acc["pos"] + F.lit(1).cast("long")
            alarm = (
                F.when(acc["alarm"] > 0, acc["alarm"])
                .when(m > F.lit(h_cents), pos)
                .otherwise(zero)
            )
            return F.struct(
                m.alias("m"),
                mx.alias("mx"),
                alarm.alias("alarm"),
                pos.alias("pos"),
            )

        st = F.aggregate(cents, init, step)
        return {
            "final_cusum": st["m"],
            "max_cusum": st["mx"],
            "alarm_index": st["alarm"],
        }

    return snapshot_fold_stream(
        stream,
        state_root,
        checkpoint_dir,
        [
            ("final_cusum", LongType()),
            ("max_cusum", LongType()),
            ("alarm_index", LongType()),
        ],
        fold,
        key_col,
        value_col,
        order_cols,
        processing_time,
        op_name="cusum_stream",
    )


def page_hinkley_stream(
    stream: DataFrame,
    state_root: str,
    checkpoint_dir: str,
    delta: float,
    lam: float,
    key_col: str = "user_id",
    value_col: str = "value",
    order_cols: tuple[str, str] = ("ts", "event_id"),
    processing_time: str | None = None,
) -> StreamingQuery:
    """Per-key Page-Hinkley mean-drift detection maintained over a
    stream — the stateful closure of the batch ``window_page_hinkley``
    fold, riding the shared :func:`snapshot_fold_stream` skeleton
    (keyed state table, replay and ownership rules — see there).
    State per key is the detector's 6 doubles (count, sum, PH
    cumulative, its running min, max excursion, sticky alarm step);
    the recurrence is float-valued (one division per step against the
    key's own running mean — the self-referencing detector needs no
    calibrated reference), but over CHRONOLOGICAL batches the
    batch-sequential fold executes the identical IEEE op sequence as
    the one-shot fold, so the maintained state is bit-identical.
    Values fold on the cents lattice cast to double (integers ≤ 2^53
    are exact in IEEE doubles, so the count/sum components stay
    exact)."""
    from pyspark.sql.types import DoubleType

    def fold(seeded, xs, rs, prev):
        z = F.lit(0.0)
        cents = F.transform(
            xs,
            lambda v: F.floor(v * 100 + F.lit(0.5))
            .cast("long")
            .cast("double"),
        )
        init = F.struct(
            F.coalesce(prev["ph_n"], z).alias("n"),
            F.coalesce(prev["ph_s"], z).alias("s"),
            F.coalesce(prev["ph_m"], z).alias("m"),
            F.coalesce(prev["ph_minm"], z).alias("minm"),
            F.coalesce(prev["ph_phmax"], z).alias("phmax"),
            F.coalesce(prev["ph_alarm"], z).alias("alarm"),
        )

        def step(acc, x):
            n1 = acc["n"] + F.lit(1.0)
            s1 = acc["s"] + x
            m1 = acc["m"] + (x - s1 / n1 - F.lit(delta))
            minm1 = F.least(acc["minm"], m1)
            ph = m1 - minm1
            phmax1 = F.greatest(acc["phmax"], ph)
            alarm1 = (
                F.when(acc["alarm"] > F.lit(0.0), acc["alarm"])
                .when(ph > F.lit(lam), n1)
                .otherwise(F.lit(0.0))
            )
            return F.struct(
                n1.alias("n"),
                s1.alias("s"),
                m1.alias("m"),
                minm1.alias("minm"),
                phmax1.alias("phmax"),
                alarm1.alias("alarm"),
            )

        st = F.aggregate(cents, init, step)
        return {
            "ph_n": st["n"],
            "ph_s": st["s"],
            "ph_m": st["m"],
            "ph_minm": st["minm"],
            "ph_phmax": st["phmax"],
            "ph_alarm": st["alarm"],
        }

    return snapshot_fold_stream(
        stream,
        state_root,
        checkpoint_dir,
        [
            ("ph_n", DoubleType()),
            ("ph_s", DoubleType()),
            ("ph_m", DoubleType()),
            ("ph_minm", DoubleType()),
            ("ph_phmax", DoubleType()),
            ("ph_alarm", DoubleType()),
        ],
        fold,
        key_col,
        value_col,
        order_cols,
        processing_time,
        op_name="page_hinkley_stream",
    )


def snapshot_final(spark: SparkSession, state_root: str) -> DataFrame:
    """Read the latest state written by :func:`snapshot_fold_stream` (raw
    fold values; callers round at presentation)."""
    return ManagedTable(state_root).read(spark)


# backward-compatible name: the EMA family's read-side entry point
ema_final = snapshot_final

