"""Structured Streaming operators (SURVEY §2.9 T1-T6 + parity-plus M7).

Reference parity: availableNow trigger (01:187), checkpointed exactly-once
(01:185), append sinks (01:184), foreachBatch with MERGE (02:97-184),
empty-batch guard (02:106). Parity-plus (absent in the reference, demanded
by the category): watermarks, tumbling/sliding/session event-time windows,
and streaming dropDuplicates — all Spark built-ins.

At scale: streaming state (windows, dedup keys) lives in the state store
keyed by the aggregation keys; watermarks bound that state. Without a
watermark an unbounded-key streaming dedup leaks state forever — always
pair dropDuplicates with withWatermark on production streams.
"""

from __future__ import annotations

import os
import threading
import uuid
from collections.abc import Callable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

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
    to the smaller id) -> append survivors. Checkpoint + content-hash
    anti-join make replays idempotent: a re-delivered batch's hashes
    already exist, so it appends nothing.

    At 100 TB the accepted table should be laid out bucketed by
    ``text_hash`` so the per-batch anti-join co-locates instead of
    shuffling the full hash set each batch; the persisted-corpus variant of
    that layout is operators/dedup.py's incremental corpus index — this
    operator is the orchestration around it.
    """
    from pyspark.sql import Window

    from databricks_etl_pipelines_spark.functions.textfns import (
        normalized_text,
    )
    from databricks_etl_pipelines_spark.operators.curation import (
        quality_score,
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
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
            seen = accepted.read(spark).select("text_hash")
            first = first.join(seen, "text_hash", "left_anti")
        if not first.isEmpty():
            accepted.append(first)

    writer = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    return with_trigger(writer, processing_time).start()


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
    needs: per-batch work tracks batch size, never corpus size.

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
    from pyspark.sql import Window

    from databricks_etl_pipelines_spark.functions.textfns import (
        normalized_text,
    )
    from databricks_etl_pipelines_spark.operators.curation import (
        quality_score,
    )
    from databricks_etl_pipelines_spark.operators.dedup import (
        MinHashCorpusIndex,
        _family,
        _minhash_pairs,
    )

    _family(family)  # a misspelt family fails here, not on the first batch

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
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
            seen = accepted.read(spark).select("text_hash")
            first = first.join(seen, "text_hash", "left_anti")
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
        first = first.persist()  # consumed by emptiness probe + append + add
        try:
            if not first.isEmpty():
                accepted.append(first)
                if MinHashCorpusIndex.exists(index_root):
                    index.add(spark, first, text_col, id_col)
                else:
                    MinHashCorpusIndex.build(
                        first, text_col, id_col, index_root,
                        num_perm=num_perm, bands=bands, family=family,
                    )
        finally:
            first.unpersist()

    writer = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    return with_trigger(writer, processing_time).start()


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
    version. Per-batch cost tracks batch size + k; state is EXACTLY k
    rows regardless of stream length, and checkpoint replays are no-ops
    (re-delivered rows fold to the identical bottom-k). ``id_col`` must
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

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
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
            cand.orderBy("sample_key", id_col).limit(k)
        )
        if keep_versions > 0:
            sample.vacuum(keep_last=keep_versions)

    writer = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    return with_trigger(writer, processing_time).start()


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
    """T3: per-micro-batch MERGE upsert (02:97-184 shape): empty-batch guard,
    optional transform, keyed idempotent merge. Checkpoint + keyed MERGE
    makes batch replays safe. ``processing_time`` switches from the
    availableNow drain to the production interval trigger (01:179,196) —
    the keyed MERGE is idempotent either way, so the two modes converge
    to the same table state for the same input."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        out = transform(batch_df) if transform else batch_df
        target.merge_upsert(batch_df.sparkSession, out, keys)

    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    return with_trigger(writer, processing_time).start()


_FOLD_FNS = {"sum": F.sum, "min": F.min, "max": F.max}


def _validate_fold_names(combine: dict[str, str] | None) -> None:
    """Reject unknown fold names. Called EAGERLY by
    :func:`incremental_aggregate` before the stream starts (a typo'd
    fold on a stream whose first batches are empty or replayed would
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
    """One micro-batch's EXACTLY-ONCE commutative-monoid fold into the
    gold table
    (the per-batch body of :func:`incremental_aggregate`, module-level so
    the replay semantics are directly testable).

    Exactly-once despite foreachBatch's at-least-once delivery: every
    commit stamps ``fold_checkpoint`` + ``fold_batch_id`` into the
    manifest entry — atomic with the table version itself (one
    ``os.replace`` of ``_log.json``) — and a re-delivered batch whose id
    is ≤ the stamped high-water mark is a checkpoint replay and folds
    NOTHING. A crash between the parquet write and the manifest write
    leaves the manifest (and therefore both the gold rows AND the marker)
    at the pre-batch state, so the replayed batch re-folds exactly once;
    the orphan ``_v{N}`` directory is unreferenced, not double-counted.

    Ownership (the ema_stream discipline): a gold table stamped by a
    DIFFERENT checkpoint is foreign state — batch 0 takes it over with a
    visible warning (fresh run, stale scratch), any later batch fails
    loudly instead of folding onto another query's aggregate. An
    UNSTAMPED existing table is a batch-built bootstrap gold: folded
    into, then stamped.

    The markers are read via a BACKWARD manifest scan
    (``latest_meta(having="fold_checkpoint")``), so a non-fold commit
    between batches — a maintenance flag, compaction, or an explicit
    append/merge by the table's owner — does not shadow the fold
    markers: replay detection and ownership survive, and the next fold
    simply folds onto whatever rows the latest version holds (a
    deliberate owner-side modification is bootstrap data, not a reason
    to lose exactly-once). The one exception is an owner-side
    ``create_or_overwrite`` — a wholesale overwrite is a STATE RESET,
    so it stamps a ``fold_checkpoint: None`` tombstone that clears the
    markers: a stream restarted after the reset (fresh checkpoint,
    batch ids back at 0) folds from the reset rows instead of having
    its batches dropped as replays of the resurrected old high-water
    mark. An owner REBUILDING the gold from history under a live
    checkpoint must instead re-stamp the marker explicitly
    (``meta={"fold_checkpoint": ..., "fold_batch_id": ...}``) — see
    the ``create_or_overwrite`` caveat.
    """
    import warnings

    prior = target.latest_meta(having="fold_checkpoint")
    owner = prior.get("fold_checkpoint") if prior else None
    takeover = False
    if owner == checkpoint_dir:
        last = prior.get("fold_batch_id", -1)
        if batch_id <= last:
            return  # checkpoint replay of an already-folded batch
    elif owner is not None:
        if batch_id == 0:
            warnings.warn(
                f"incremental_aggregate: batch 0 of checkpoint "
                f"{checkpoint_dir!r} is taking over gold table "
                f"{target.root!r} previously maintained by checkpoint "
                f"{owner!r}; its aggregate is being overwritten",
                stacklevel=2,
            )
            takeover = True  # discard the foreign aggregate, seed fresh
        else:
            raise ValueError(
                f"incremental_aggregate: gold table {target.root!r} is "
                f"maintained by checkpoint {owner!r}, not "
                f"{checkpoint_dir!r} — refusing to fold onto another "
                "query's aggregate; point this query at its own target "
                "or clear it"
            )
    if batch_df.isEmpty() and not takeover:
        # nothing to fold and no foreign state to invalidate; an EMPTY
        # batch-0 takeover must still fall through and overwrite (the
        # empty partial below) so batch 1 never folds onto foreign rows
        return
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
    if target.exists() and not takeover:
        current = target.read(spark)
        fns = {c: _FOLD_FNS[(combine or {}).get(c, "sum")] for c in metric_cols}
        combined = (
            current.unionByName(partial)
            .groupBy(*keys)
            .agg(*[fns[c](c).alias(c) for c in metric_cols])
        )
    else:
        combined = partial
    target.create_or_overwrite(
        combined,
        meta={"fold_checkpoint": checkpoint_dir, "fold_batch_id": batch_id},
    )


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
    under checkpoint replay (see :func:`fold_partial_batch` — a
    batch-id high-water mark stamped atomically with each gold version
    makes re-delivered batches no-ops).

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

    def process(batch_df: DataFrame, batch_id: int) -> None:
        fold_partial_batch(
            batch_df,
            batch_id,
            target,
            keys,
            partial_agg,
            checkpoint_dir,
            combine,
        )

    writer = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    return with_trigger(writer, processing_time).start()


class StreamingMedallion:
    """The reference's full streaming pipeline shape (01+02+03) as ONE
    foreachBatch flow: per micro-batch — validate/split (quarantine append),
    PII mask + enrich, keyed MERGE into silver, and an ADDITIVE fold of the
    hourly gold aggregate (incremental maintenance instead of the
    reference's batch overwrite, 03:62-64).

    Checkpoint + keyed MERGE + additive-by-key gold keep every stage
    replay-safe; per-batch cost tracks batch size + aggregate size, never
    table history.

    ``bucket_silver=N`` lays silver out as N key-hash buckets on
    transaction_id: each micro-batch MERGE then rewrites only the buckets
    its keys land in and hardlinks the rest, so steady-state write
    amplification is O(touched/N) of the table per batch instead of O(1)
    full rewrites — the property that keeps an always-on upsert stream
    viable against a 100 TB silver table.
    """

    def __init__(
        self, spark: SparkSession, root: str, bucket_silver: int | None = None
    ):
        self.spark = spark
        self.silver = ManagedTable(os.path.join(root, "silver"))
        self.quarantine = ManagedTable(os.path.join(root, "quarantine"))
        self.gold_hourly = ManagedTable(os.path.join(root, "gold_hourly"))
        self.bucket_silver = bucket_silver

    def _fold_gold(self, silver_batch: DataFrame) -> None:
        """Add the batch's hourly partial into gold. A small fold runs on
        the driver: the partial holds at most one row per gold cell, so
        each cell adds exactly two values, and IEEE addition of two values
        commutes, so it gives the Spark fold's doubles bit for bit."""
        keys = ["event_date", "event_hour", "card_network", "mcc_category"]
        partial = silver_batch.groupBy(*keys).agg(
            F.count("*").alias("txn_count"),
            F.sum("amount").alias("total_volume"),
        )
        local = (
            self.gold_hourly._touched_local(partial, None, "fold")
            if self.gold_hourly.exists()
            else None
        )
        if local is not None:
            batch, _, current = local
            sums = ["txn_count", "total_volume"]
            folded = (
                pa.concat_tables([current, batch])
                .group_by(keys)
                .aggregate([(c, "sum") for c in sums])
                .select(keys + [f"{c}_sum" for c in sums])
                .rename_columns(keys + sums)
            )
            self.gold_hourly.create_or_overwrite(folded)
            return
        if self.gold_hourly.exists():
            current = self.gold_hourly.read(self.spark)
            partial = (
                current.unionByName(partial)
                .groupBy(*keys)
                .agg(
                    F.sum("txn_count").alias("txn_count"),
                    F.sum("total_volume").alias("total_volume"),
                )
            )
        self.gold_hourly.create_or_overwrite(partial)

    def start(
        self, stream: DataFrame, checkpoint_dir: str,
        processing_time: str | None = None,
    ) -> StreamingQuery:
        from databricks_etl_pipelines_spark.plans.medallion import (
            silver_transformer,
        )

        silver_transform = silver_transformer()

        def process(batch_df: DataFrame, batch_id: int) -> None:
            if batch_df.isEmpty():
                return
            silver_batch, quarantined = silver_transform(batch_df)
            # MERGE consumes silver_batch twice (source ∪ anti) and the
            # gold fold a third time — cache the enriched batch
            silver_batch = silver_batch.persist()
            self.quarantine.append(quarantined)
            if self.bucket_silver and not self.silver.exists():
                # first batch creates the bucket layout; every later MERGE
                # dispatches onto the bucket-pruned path automatically
                self.silver.create_or_overwrite(
                    silver_batch,
                    bucket_by=["transaction_id"],
                    n_buckets=self.bucket_silver,
                )
            else:
                self.silver.merge_upsert(
                    self.spark, silver_batch, ["transaction_id"]
                )
            self._fold_gold(silver_batch)
            silver_batch.unpersist()

        writer = (
            stream.writeStream.foreachBatch(process)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
        )
        return with_trigger(writer, processing_time).start()


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

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        scored = dsir_score(batch_df, ratios, text_col, id_col, n_buckets)
        scored.write.mode("overwrite").parquet(
            f"{out_dir}/batch_id={batch_id}"
        )

    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    return with_trigger(writer, processing_time).start()


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

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        per_doc = perplexity_score(
            batch_df, word_scores, text_col, id_col, group_col
        )
        labeled = perplexity_label(per_doc, cutoffs, id_col, group_col)
        labeled.write.mode("overwrite").parquet(
            f"{out_dir}/batch_id={batch_id}"
        )

    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    return with_trigger(writer, processing_time).start()


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

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        report = decontaminate_score(
            batch_df, bench_ngrams, text_col, id_col, ngram_n, min_hits
        )
        report.write.mode("overwrite").parquet(
            f"{out_dir}/batch_id={batch_id}"
        )

    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    return with_trigger(writer, processing_time).start()


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
    from pyspark.sql import functions as F

    from databricks_etl_pipelines_spark.functions.textfns import tokens
    from databricks_etl_pipelines_spark.plans.queries_aggregates import (
        countmin_cells,
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        wc = (
            batch_df.select(F.explode(tokens(text_col)).alias("word"))
            .groupBy("word")
            .agg(F.count("*").alias("n"))
        )
        countmin_cells(wc).write.mode("overwrite").parquet(
            f"{out_dir}/batch_id={batch_id}"
        )

    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    return with_trigger(writer, processing_time).start()


def countmin_merge(spark: SparkSession, out_dir: str) -> DataFrame:
    """Merge the per-batch partial cells written by
    :func:`countmin_stream` into the final (r, b, c) counters — one sum
    per cell over ≤ n_batches·d·w partial rows."""
    from pyspark.sql import functions as F

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
    decisions to a replay-idempotent ``batch_id=<n>`` partition, then
    fold the batch's bit positions into the state.

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

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        reps = (
            batch_df.select(
                F.md5(normalized_text(text_col)).alias("key"),
                F.col(id_col).alias("doc_id"),
            )
            .groupBy("key")
            .agg(F.min("doc_id").alias("doc_id"))
        )
        pos = positions(reps)
        if state.exists():
            prior = state.read(spark).filter(
                F.col("first_batch") < F.lit(batch_id)
            )
        else:
            prior = spark.createDataFrame(
                [], "pos bigint, first_batch bigint"
            )
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
        batch_bits = pos.select(
            "pos", F.lit(batch_id).cast("bigint").alias("first_batch")
        )
        merged = (
            (state.read(spark) if state.exists() else batch_bits.limit(0))
            .unionByName(batch_bits)
            .groupBy("pos")
            .agg(F.min("first_batch").alias("first_batch"))
        )
        state.create_or_overwrite(merged)

    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    return with_trigger(writer, processing_time).start()


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
    commutative aggregate) maintained over a stream via per-batch state
    SNAPSHOTS. Batch N reads the latest snapshot BELOW N, folds its own
    (order_cols)-ordered rows on top, and writes the full keyed state to
    ``b=N`` with OVERWRITE — a re-delivered batch N recomputes from N−1's
    snapshot and overwrites b=N with identical bytes, never double-folds.
    This is the third replay-safety recipe next to additive partials
    (Count-Min / incremental_aggregate) and idempotent sets (Bloom).

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
    assumed: each key's snapshot carries its last folded (o1, o2), and a
    batch containing a row at-or-before a key's watermark raises
    ValueError instead of silently folding old values after new ones
    into plausible-wrong state (one bounded keys-in-batch count per
    micro-batch). State per snapshot is one row per key (the floor for
    any per-key stateful op); snapshots are pruned to the latest at read
    and old ones are retention, not state.

    Run ownership: ``state_root`` belongs to exactly one streaming
    query. Batch 0 of a query TAKES ownership — it removes EVERY
    ``b=*`` snapshot left by a different (possibly longer) previous run
    (including a foreign ``b=0``, which an empty new batch 0 would
    otherwise leave in place for batch 1 to fold on) and records its
    checkpoint in ``_run.json`` — so :func:`snapshot_final` can never
    return or fold stale snapshots from an earlier run; batches > 0
    verify the marker and fail loudly if the state_root was seeded by a
    different checkpoint (two live queries pointed at one state_root, or
    a restarted query aimed at foreign state)."""
    import json as _json
    import os
    import shutil

    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    def _latest_snapshot(spark, below: int):
        if not os.path.isdir(state_root):
            return None
        bs = [
            int(d.split("=", 1)[1])
            for d in os.listdir(state_root)
            if d.startswith("b=") and int(d.split("=", 1)[1]) < below
        ]
        if not bs:
            return None
        return spark.read.parquet(f"{state_root}/b={max(bs)}")

    def _read_marker(marker: str):
        # an unreadable/truncated marker (torn write from a crashed
        # run) is treated as owner-unknown so batches > 0 fail through
        # the DESCRIPTIVE ownership ValueError below, not a raw
        # JSONDecodeError
        if not os.path.isfile(marker):
            return None
        try:
            with open(marker) as fh:
                return _json.load(fh).get("checkpoint")
        except (ValueError, OSError):
            return None

    def _claim_or_verify_run(batch_id: int) -> None:
        marker = os.path.join(state_root, "_run.json")
        if batch_id == 0:
            # a fresh checkpoint always starts at batch 0: EVERY b=*
            # snapshot under state_root is from a DIFFERENT run and
            # would otherwise be folded on (b>0 wins max(b) at read
            # time; a foreign b=0 would survive an EMPTY new batch 0
            # and contaminate batch 1's seed). Clearing them all
            # preserves crash-replay semantics (a replayed batch 0
            # rebuilds b=0 from its own rows byte-identical; if the
            # checkpoint committed batch 0, replay starts later and
            # never re-enters this branch).
            os.makedirs(state_root, exist_ok=True)
            # destructive takeover of another query's state_root is
            # legal (documented) but must be VISIBLE: warn before the
            # rmtree so the victim's operator can trace where its
            # snapshots went instead of discovering a bare ownership
            # ValueError at its next batch
            prev_owner = _read_marker(marker)
            if prev_owner is not None and prev_owner != checkpoint_dir:
                import warnings

                warnings.warn(
                    f"{op_name}: batch 0 of checkpoint "
                    f"{checkpoint_dir!r} is taking over state_root "
                    f"{state_root!r} previously owned by checkpoint "
                    f"{prev_owner!r}; its snapshots are being removed",
                    stacklevel=2,
                )
            for d in os.listdir(state_root):
                if d.startswith("b="):
                    shutil.rmtree(os.path.join(state_root, d))
            # atomic marker write: a crash that commits the streaming
            # checkpoint but tears this file must leave either the old
            # marker or the new one, never truncated JSON (os.replace
            # is atomic on POSIX; fsync before it so the rename never
            # lands ahead of the bytes)
            tmp = marker + ".tmp"
            with open(tmp, "w") as fh:
                _json.dump({"checkpoint": checkpoint_dir}, fh)
                fh.flush()
                os.fsync(fh.fileno())
            os.replace(tmp, marker)
            return
        owner = _read_marker(marker)
        if owner != checkpoint_dir:
            raise ValueError(
                f"{op_name}: state_root {state_root!r} is owned by "
                f"checkpoint {owner!r}, not {checkpoint_dir!r} — "
                "snapshots from a different run cannot be folded on; "
                "point the query at its own state_root or clear this "
                "one"
            )

    state_names = [n for n, _t in state_fields]
    book_names = ["n_events", "last_value", "last_ts", "last_eid"]

    def process(batch_df: DataFrame, batch_id: int) -> None:
        # ownership runs even for empty batches: an empty batch 0 must
        # still invalidate a previous run's leftover snapshots before
        # batch 1 folds on top of them
        _claim_or_verify_run(batch_id)
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        o1, o2 = order_cols
        arr = F.array_sort(
            F.collect_list(F.struct(o1, o2, value_col))
        )
        g = batch_df.groupBy(F.col(key_col).alias("k")).agg(
            arr.alias("rs"), F.count("*").alias("bn")
        )
        xs = F.transform("rs", lambda r: r[value_col])
        prev_snap = _latest_snapshot(spark, batch_id)
        if prev_snap is None:
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
        snap.write.mode("overwrite").parquet(f"{state_root}/b={batch_id}")

    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    return with_trigger(writer, processing_time).start()


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
    :func:`snapshot_fold_stream` skeleton (snapshot replay safety,
    chronological-contract enforcement, run ownership — see there).
    Keys with prior state seed from it and fold the whole batch array;
    fresh keys seed from their first value and fold the tail —
    bit-identical to the one-shot fold's s0 = x0."""
    from pyspark.sql import functions as F
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
    :func:`snapshot_fold_stream` skeleton. State per key is 3 int64s
    (running excess, max excess, sticky 1-based first-alarm index; the
    step counter is the skeleton's ``n_events`` bookkeeping), all on
    the cents lattice, so batch-sequential folding over chronological
    batches is ENGINE-EXACT equal to the one-shot fold — no IEEE
    caveat at all, integer recurrences commute with any contiguous
    batch split."""
    from pyspark.sql import functions as F
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
    fold, riding the shared :func:`snapshot_fold_stream` skeleton.
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
    from pyspark.sql import functions as F
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
    """Read the latest state snapshot written by
    :func:`snapshot_fold_stream` (raw fold values; callers round at
    presentation)."""
    import os

    bs = [
        int(d.split("=", 1)[1])
        for d in os.listdir(state_root)
        if d.startswith("b=")
    ]
    return spark.read.parquet(f"{state_root}/b={max(bs)}")


# backward-compatible name: the EMA family's read-side entry point
ema_final = snapshot_final

