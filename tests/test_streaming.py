"""Streaming tests (SURVEY §5 item 4): exactly-once checkpoint replay,
foreachBatch-MERGE idempotence, and append-mode watermark late-data drop.
"""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from databricks_etl_pipelines_spark.sources.managed_table import ManagedTable
from databricks_etl_pipelines_spark.streaming.structured import (
    bronze_stream_ingest,
    drain_to_memory,
    foreach_batch_merge,
    progress_summary,
    streaming_events,
    tumbling_window_counts,
)


def test_watermark_runs_on_real_testdata(spark, sf_dir):
    """Regression gate for testdata timestamp-dtype drift: drain a
    watermarked tumbling-window agg over the ACTUAL testdata events stream.

    Round 2 shipped `events.ts` as naive-µs parquet (TIMESTAMP_NTZ under
    Spark 4) and `withWatermark` hard-failed with
    EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE — unseen by the suite because every
    streaming test synthesized its own LTZ frames. This test pins the
    normalization in streaming_events(): whatever physical encoding the
    driver regenerates (ns-as-long, naive µs, tz-aware), the stream must
    expose a plain TIMESTAMP `ts` that watermarks accept.
    """
    stream = streaming_events(spark, sf_dir)
    assert dict(stream.dtypes)["ts"] == "timestamp"
    result = drain_to_memory(tumbling_window_counts(stream))
    n = result.count()
    assert n > 0
    total = result.agg(F.sum("event_count")).first()[0]
    assert total == spark.read.parquet(f"{sf_dir}/events.parquet").count()


def test_bounded_state_drain_matches_default_and_restores_width(spark, sf_dir):
    """r16: ``drain_to_memory(bounded_state=True)`` plans the drain with
    min(streamStatePartitions, session width) state partitions — an
    execution-strategy choice for lattice-bounded state (state-store
    partitioning should track state size, not core count). It must (a)
    produce row-identical results to the default-width drain, and (b)
    restore the session's shuffle width afterwards, so later batch plans
    are untouched."""
    from databricks_etl_pipelines_spark.streaming.structured import (
        STREAM_STATE_PARTITIONS_CONF,
    )

    width_before = spark.conf.get("spark.sql.shuffle.partitions")
    stream = tumbling_window_counts(streaming_events(spark, sf_dir))
    wide = sorted(map(tuple, drain_to_memory(stream, "complete").collect()))
    spark.conf.set(STREAM_STATE_PARTITIONS_CONF, "2")
    try:
        stream2 = tumbling_window_counts(streaming_events(spark, sf_dir))
        narrow = sorted(
            map(
                tuple,
                drain_to_memory(
                    stream2, "complete", bounded_state=True
                ).collect(),
            )
        )
    finally:
        spark.conf.unset(STREAM_STATE_PARTITIONS_CONF)
    assert narrow == wide
    assert spark.conf.get("spark.sql.shuffle.partitions") == width_before


def test_bounded_state_drains_on_two_threads(spark, tmp_path):
    """Two bounded drains started on two threads both plan with the
    bounded state width, and the session width is back to its old value
    while both queries still run: the narrowed width is set only around
    ``start()``, under a lock, because Spark copies the session conf into
    the query's session there."""
    import threading

    from databricks_etl_pipelines_spark.streaming.structured import (
        STREAM_STATE_PARTITIONS_CONF,
    )

    src = str(tmp_path / "feed")
    for i in range(8):
        spark.createDataFrame(
            [(j % 5, i) for j in range(20)], "g long, f long"
        ).coalesce(1).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    width = spark.conf.get("spark.sql.shuffle.partitions")
    assert int(width) > 2
    results, errors = {}, []

    def drain(tag):
        try:
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
                .groupBy("g")
                .count()
            )
            out = drain_to_memory(stream, "complete", bounded_state=True)
            results[tag] = sorted(map(tuple, out.collect()))
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    spark.conf.set(STREAM_STATE_PARTITIONS_CONF, "2")
    try:
        threads = [threading.Thread(target=drain, args=(t,)) for t in "ab"]
        for t in threads:
            t.start()
        queries, both_running = {}, 0
        while any(t.is_alive() for t in threads):
            active = spark.streams.active
            for q in active:
                queries[q.id] = q
            if len(active) == 2 and all(q.lastProgress for q in active):
                both_running += 1
                assert spark.conf.get("spark.sql.shuffle.partitions") == width
            time.sleep(0.05)
        for t in threads:
            t.join()
    finally:
        spark.conf.unset(STREAM_STATE_PARTITIONS_CONF)
    assert not errors, errors
    assert both_running > 0
    assert len(queries) == 2
    for q in queries.values():
        states = [p["stateOperators"][0] for p in q.recentProgress]
        assert {s["numShufflePartitions"] for s in states} == {2}
    assert results["a"] == results["b"] == [(g, 32) for g in range(5)]
    assert spark.conf.get("spark.sql.shuffle.partitions") == width


def test_checkpoint_replay_exactly_once(spark, sf_dir, tmp_path):
    """Draining the same source twice against one checkpoint must not
    duplicate rows (offsets are committed in the WAL)."""
    feed = streaming_events(spark, sf_dir).withColumn(
        "ingestion_date", F.to_date("ts")
    )
    out, ckpt = str(tmp_path / "bronze"), str(tmp_path / "ckpt")
    n_src = spark.read.parquet(f"{sf_dir}/events.parquet").count()

    q1 = bronze_stream_ingest(feed, out, ckpt)
    q1.awaitTermination(120)
    assert spark.read.parquet(out).count() == n_src

    q2 = bronze_stream_ingest(feed, out, ckpt)  # replay, same checkpoint
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == n_src


def test_processing_time_trigger_matches_available_now(spark, sf_dir, tmp_path):
    """The reference's production trigger (processingTime — 01:179,196)
    through the same bronze sink: a bounded drain stopped by
    ``stop_after_drained`` after every source row is committed must equal
    the availableNow drain byte-for-byte (same rows, same exactly-once
    checkpoint contract)."""
    from databricks_etl_pipelines_spark.streaming.structured import (
        stop_after_drained,
    )

    feed = streaming_events(spark, sf_dir).withColumn(
        "ingestion_date", F.to_date("ts")
    )
    n_src = spark.read.parquet(f"{sf_dir}/events.parquet").count()

    out_pt, ckpt_pt = str(tmp_path / "pt"), str(tmp_path / "ckpt_pt")
    q = bronze_stream_ingest(
        feed, out_pt, ckpt_pt, processing_time="1 second"
    )
    stop_after_drained(q, expected_rows=n_src, timeout_s=120)
    got_pt = spark.read.parquet(out_pt)
    assert got_pt.count() == n_src

    out_an, ckpt_an = str(tmp_path / "an"), str(tmp_path / "ckpt_an")
    q = bronze_stream_ingest(feed, out_an, ckpt_an)
    q.awaitTermination(120)
    got_an = spark.read.parquet(out_an)
    assert got_an.count() == n_src
    assert got_pt.exceptAll(got_an).count() == 0
    assert got_an.exceptAll(got_pt).count() == 0


def test_foreachbatch_merge_idempotent(spark, sf_dir, tmp_path):
    stream = streaming_events(spark, sf_dir)
    target = ManagedTable(str(tmp_path / "merged"))
    n_src = spark.read.parquet(f"{sf_dir}/events.parquet").count()

    q = foreach_batch_merge(stream, target, ["event_id"], str(tmp_path / "c1"))
    q.awaitTermination(120)
    assert target.read(spark).count() == n_src

    # fresh checkpoint ⇒ full reprocess, but keyed MERGE keeps state stable
    q = foreach_batch_merge(stream, target, ["event_id"], str(tmp_path / "c2"))
    q.awaitTermination(120)
    assert target.read(spark).count() == n_src


def test_foreachbatch_merge_processing_time(spark, sf_dir, tmp_path):
    """The CDC-shaped foreachBatch MERGE under the production interval
    trigger: stopped after the bounded source drains, the table state must
    equal the availableNow drain (idempotent keyed MERGE both ways)."""
    from databricks_etl_pipelines_spark.streaming.structured import (
        stop_after_drained,
    )

    stream = streaming_events(spark, sf_dir)
    n_src = spark.read.parquet(f"{sf_dir}/events.parquet").count()

    target = ManagedTable(str(tmp_path / "merged_pt"))
    q = foreach_batch_merge(
        stream, target, ["event_id"], str(tmp_path / "cpt"),
        processing_time="1 second",
    )
    stop_after_drained(q, expected_rows=n_src, timeout_s=120)
    assert target.read(spark).count() == n_src


def test_watermark_drops_late_rows(spark, tmp_path):
    """Append-mode tumbling agg with a 10-minute watermark: rows arriving
    after the watermark passed their window are dropped."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    on_time = spark.createDataFrame(
        [(1, "2024-01-01 10:05:00"), (2, "2024-01-01 10:20:00"),
         (3, "2024-01-01 12:00:00")],  # advances watermark to 11:50
        "id long, ts_s string",
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    on_time.coalesce(1).write.mode("overwrite").parquet(src)

    def run_drain():
        stream = spark.readStream.schema(on_time.schema).parquet(src)
        agg = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour"))
            .agg(F.count("*").alias("n"))
            .select(F.col("window.start").alias("ws"), "n")
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_drain()
    # late row for the already-closed 10:00 window
    late = spark.createDataFrame([(4, "2024-01-01 10:40:00")], "id long, ts_s string") \
        .withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    late.coalesce(1).write.mode("append").parquet(src)
    run_drain()

    result = {r.ws.hour: r.n for r in spark.read.parquet(out).collect()}
    # the 10:00 window closed with 2 rows; the late 10:40 row was dropped
    assert result.get(10) == 2


def test_rate_source_stream_matches_batch_schema(spark):
    """S1 parity: the rate-source feed produces the same transaction schema
    as the batch generator, live."""
    import uuid

    from databricks_etl_pipelines_spark.sources.generator import (
        batch_transactions,
        stream_transactions,
    )

    batch_schema = batch_transactions(spark, 10, stamps=False).schema
    stream = stream_transactions(spark, rows_per_second=500, stamps=False)
    assert stream.isStreaming
    # same names/types; nullability flags differ between range and rate
    assert stream.schema.simpleString() == batch_schema.simpleString()

    sink = f"rate_sink_{uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(processingTime="250 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 30
        while time.time() < deadline:
            if spark.sql(f"SELECT count(*) c FROM {sink}").first()["c"] > 0:
                break
            time.sleep(0.5)
        got = spark.sql(
            f"SELECT transaction_id, amount, mcc_code FROM {sink} LIMIT 5"
        ).collect()
        assert len(got) > 0
        assert all(r.mcc_code is not None for r in got)
        progress = progress_summary(q)
        assert progress and progress[-1]["numInputRows"] is not None
    finally:
        q.stop()


def test_stateful_user_totals_across_microbatches(spark, tmp_path):
    """applyInPandasWithState: per-key state must carry across micro-batches
    (restored from the checkpointed state store on the second drain)."""
    from databricks_etl_pipelines_spark.streaming.structured import (
        stateful_user_totals,
    )

    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    schema = "user_id long, value double"

    def drain():
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            stateful_user_totals(stream)
            .writeStream.foreachBatch(
                lambda df, _id: df.write.mode("append").parquet(out)
            )
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    spark.createDataFrame(
        [(1, 10.0), (1, 5.0), (2, 1.0)], schema
    ).coalesce(1).write.mode("append").parquet(src)
    drain()
    spark.createDataFrame([(1, 2.0), (3, 7.0)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    drain()

    latest = {}
    for r in spark.read.parquet(out).collect():
        # later emissions have larger totals; keep the max per user
        cur = latest.get(r.user_id)
        if cur is None or r.events_total > cur[0]:
            latest[r.user_id] = (r.events_total, r.value_total)
    assert latest[1] == (3, 17.0)   # 2 events batch 1 + 1 event batch 2
    assert latest[2] == (1, 1.0)
    assert latest[3] == (1, 7.0)


def test_incremental_gold_aggregate_matches_batch(spark, sf_dir, tmp_path):
    """Incrementally-maintained gold: drain the events in 3 micro-batches
    (maxFilesPerTrigger=1 over 3 files); after the fold the gold table must
    equal the one-shot batch aggregate, and history must show one commit
    per non-empty batch (proof it maintained, not recomputed at the end)."""
    from databricks_etl_pipelines_spark.streaming.structured import (
        incremental_aggregate,
    )

    from databricks_etl_pipelines_spark.sources import table

    events = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    src = str(tmp_path / "src")
    events.repartition(3).write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )

    def partial(df):
        return df.groupBy("event_type").agg(
            F.count("*").alias("event_count"),
            F.sum("value").alias("total_value"),
        )

    gold = ManagedTable(str(tmp_path / "gold"))
    q = incremental_aggregate(
        stream, gold, ["event_type"], partial, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)

    expected = {
        r.event_type: (r.event_count, r.total_value)
        for r in partial(events).collect()
    }
    got = {
        r.event_type: (r.event_count, r.total_value)
        for r in gold.read(spark).collect()
    }
    assert set(got) == set(expected)
    for k in expected:
        assert got[k][0] == expected[k][0]
        assert abs(got[k][1] - expected[k][1]) < 1e-6  # fp fold-order drift
    # one gold version per non-empty micro-batch => incremental maintenance
    assert gold.history(spark).count() >= 2


def test_streaming_medallion_end_to_end(spark, tmp_path):
    """Full streaming medallion over the deterministic generator, drained
    in 3 micro-batches: silver == batch silver, quarantine == expected bad
    rows, incrementally-folded gold hourly == batch gold from silver."""
    from databricks_etl_pipelines_spark.plans.medallion import (
        gold_hourly_volume,
        silver_transform,
    )
    from databricks_etl_pipelines_spark.sources.generator import (
        batch_transactions,
    )
    from databricks_etl_pipelines_spark.streaming.structured import (
        StreamingMedallion,
    )

    n = 3000
    feed = batch_transactions(spark, n)
    src = str(tmp_path / "feed")
    feed.repartition(3).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(feed.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )

    m = StreamingMedallion(spark, str(tmp_path / "tables"))
    q = m.start(stream, str(tmp_path / "ckpt"))
    q.awaitTermination(180)

    batch_silver, batch_quar = silver_transform(feed)
    assert m.silver.read(spark).count() == batch_silver.count()
    assert m.quarantine.read(spark).count() == batch_quar.count()

    keys = ["event_date", "event_hour", "card_network", "mcc_category"]
    expected = {
        tuple(r[k] for k in keys): (r.txn_count, round(r.total_volume, 2))
        for r in gold_hourly_volume(batch_silver)
        .withColumn("total_volume", F.round("total_volume", 2))
        .collect()
    }
    got = {
        tuple(r[k] for k in keys): (r.txn_count, round(r.total_volume, 2))
        for r in m.gold_hourly.read(spark)
        .withColumn("total_volume", F.round("total_volume", 2))
        .collect()
    }
    assert set(got) == set(expected)
    for k, (cnt, vol) in expected.items():
        assert got[k][0] == cnt
        assert abs(got[k][1] - vol) < 0.05  # fp fold-order drift
    # gold history shows one fold per non-empty micro-batch
    assert m.gold_hourly.history(spark).count() >= 2


def test_stream_stream_left_outer_emits_on_watermark_expiry(spark, tmp_path):
    """Left-outer stream-stream join: a matched left emits immediately; an
    UNMATCHED left emits null-extended only after a later batch advances
    the watermark past its match window (state expiry semantics)."""
    from databricks_etl_pipelines_spark.streaming.structured import (
        stream_stream_interval_join,
    )

    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    schema = "event_id long, ts timestamp, user_id long, event_type string"

    def drain():
        base = spark.readStream.schema(schema).parquet(src)
        clicks = base.filter(F.col("event_type") == "click")
        errors = base.filter(F.col("event_type") == "error")
        joined = stream_stream_interval_join(
            clicks, errors, "user_id",
            within="10 minutes", watermark="10 minutes", how="leftOuter",
        )
        q = (
            joined.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    def rows(data):
        return spark.createDataFrame(data, schema).withColumn(
            "ts", F.col("ts").cast("timestamp")
        )

    import datetime as dt

    t = lambda m: dt.datetime(2024, 1, 1, 10, m)
    rows([(1, t(0), 100, "click"), (2, t(1), 200, "click"),
          (3, t(5), 100, "error")]).coalesce(1).write.mode("append").parquet(src)
    drain()
    # batch 2: far-future rows on BOTH inputs — the query watermark is the
    # MIN across the two withWatermark nodes, so a click must advance too
    rows([(4, dt.datetime(2024, 1, 1, 13, 0), 300, "click"),
          (5, dt.datetime(2024, 1, 1, 13, 0), 400, "error")]) \
        .coalesce(1).write.mode("append").parquet(src)
    drain()
    # batch 3: state cleanup runs with batch 2's advanced watermark and
    # emits the expired unmatched left
    rows([(6, dt.datetime(2024, 1, 1, 14, 0), 300, "click"),
          (7, dt.datetime(2024, 1, 1, 14, 0), 400, "error")]) \
        .coalesce(1).write.mode("append").parquet(src)
    drain()

    got = {
        (r.user_id, r.l_event_id, r.r_event_id)
        for r in spark.read.parquet(out).collect()
    }
    assert (100, 1, 3) in got          # matched within 10 minutes
    assert (200, 2, None) in got       # unmatched left, emitted on expiry


def test_streaming_medallion_bucketed_silver_write_amplification(
    spark, tmp_path
):
    """An always-on upsert stream against a bucketed silver table must pay
    O(touched/N) write amplification per micro-batch, not full rewrites:
    a 3-key update batch rewrites <= 3 of 16 buckets and carries every
    untouched bucket into the new version as hardlinks (byte-identical,
    zero IO)."""
    import glob
    import os

    from databricks_etl_pipelines_spark.plans.medallion import (
        silver_transform,
    )
    from databricks_etl_pipelines_spark.sources.generator import (
        batch_transactions,
    )
    from databricks_etl_pipelines_spark.sources.managed_table import (
        BUCKET_COL,
        _read_log,
        _same_file_set,
    )
    from databricks_etl_pipelines_spark.streaming.structured import (
        StreamingMedallion,
    )

    feed = batch_transactions(spark, 2000)
    src, ckpt = str(tmp_path / "feed"), str(tmp_path / "ckpt")
    feed.coalesce(1).write.mode("overwrite").parquet(src)

    m = StreamingMedallion(spark, str(tmp_path / "tables"), bucket_silver=16)

    def drain():
        stream = spark.readStream.schema(feed.schema).parquet(src)
        q = m.start(stream, ckpt)
        q.awaitTermination(120)

    drain()  # batch 1: creates bucketed silver from the full feed
    v1 = m.silver.latest_version()
    base_count = m.silver.read(spark).count()

    # batch 2: updates to 3 existing transaction_ids (append a new file;
    # checkpoint resume processes only it)
    updates = batch_transactions(spark, 2000).filter(
        F.col("transaction_id").isin(
            [r.transaction_id for r in feed.limit(3).collect()]
        )
    )
    updates.coalesce(1).write.mode("append").parquet(src)
    drain()

    log = _read_log(m.silver.root)
    assert log[-1]["operation"] == "merge"
    assert 1 <= log[-1]["buckets_rewritten"] <= 3
    assert m.silver.read(spark).count() == base_count  # upsert, no dups

    # untouched buckets: hardlink carry-over, byte-identical across versions
    v2 = m.silver.latest_version()
    d1, d2 = m.silver._version_dir(v1), m.silver._version_dir(v2)
    carried = 0
    for bdir in glob.glob(os.path.join(d2, f"{BUCKET_COL}=*")):
        prev = os.path.join(d1, os.path.basename(bdir))
        if os.path.isdir(prev) and _same_file_set(prev, bdir):
            carried += 1
    assert carried >= 16 - log[-1]["buckets_rewritten"]

    # silver still matches the batch-computed truth after the pruned merge
    expected, _ = silver_transform(feed)
    assert m.silver.read(spark).count() == expected.count()


def _write_doc_file(spark, path, rows):
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("append").parquet(path)


def test_curation_ingest_first_batch_wins_and_replay_idempotent(spark, tmp_path):
    """Streaming corpus admission: (1) a duplicate arriving in a LATER
    micro-batch is rejected even with a smaller doc_id (first-wins, unlike
    batch min-id dedup); (2) low-quality docs never land; (3) a replay
    drain with a fresh checkpoint appends nothing (content-hash
    idempotence)."""
    from databricks_etl_pipelines_spark.operators.curation import quality_score
    from databricks_etl_pipelines_spark.sources.managed_table import ManagedTable
    from databricks_etl_pipelines_spark.streaming.structured import curation_ingest

    good = (
        "the quick brown fox jumps over the lazy dog and that is a fine "
        "thing to see in the morning, is it not. " * 3
    )
    junk = "zzzz!!!! 9999 $$$$"  # fails length/stopword/punct gates
    src = str(tmp_path / "docs_src")
    # batch 1: docs 10 (good), 11 (junk)
    _write_doc_file(spark, src, [(10, good, "en", "web", len(good)),
                                 (11, junk, "en", "web", len(junk))])
    # batch 2: doc 1 is an exact dup of doc 10 (whitespace/case differs)
    # with a SMALLER id, plus a fresh doc 12
    other = good.replace("morning", "evening")
    _write_doc_file(spark, src, [(1, good.upper() + "  ", "en", "crawl", 5),
                                 (12, other, "en", "crawl", len(other))])

    schema = spark.read.parquet(src).schema
    accepted = ManagedTable(str(tmp_path / "accepted"))

    def drain(ckpt):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .withColumn("quality", quality_score("text").cast("bigint"))
        )
        q = curation_ingest(stream, accepted, str(tmp_path / ckpt), min_quality=50)
        q.awaitTermination(120)

    drain("ckpt1")
    got = {r.doc_id for r in accepted.read(spark).collect()}
    # doc 10 admitted in batch 1; its later smaller-id dup (1) rejected;
    # junk (11) gated out; fresh doc (12) admitted
    assert got == {10, 12}

    drain("ckpt2")  # full reprocess: every hash already accepted
    assert {r.doc_id for r in accepted.read(spark).collect()} == {10, 12}


def test_curation_ingest_neardup_rejects_paraphrase_across_batches(
    spark, tmp_path
):
    """Near-dup streaming admission: a lightly-edited copy of an accepted
    doc arriving in a LATER batch is rejected via the persisted MinHash
    index (only the batch is shingled); in-batch near-dup pairs keep the
    min id; distinct docs still land; replay admits nothing."""
    from databricks_etl_pipelines_spark.operators.curation import quality_score
    from databricks_etl_pipelines_spark.sources.managed_table import ManagedTable
    from databricks_etl_pipelines_spark.streaming.structured import (
        curation_ingest_neardup,
    )

    base = (
        "the quick brown fox jumps over the lazy dog and that is a fine "
        "thing to see in the morning for all of us who like to walk "
        "outside when the sun is up and the air is cool and the birds "
        "are singing in the trees near the old stone bridge. " * 2
    )
    other = (
        "a completely different report about the annual budget meeting "
        "where the committee discussed revenue targets and the plan for "
        "new hiring across the engineering and sales teams during the "
        "next fiscal year with a focus on sustainable growth. " * 2
    )
    third = (
        "yet another unrelated story that follows a small sailing boat "
        "across the northern sea through storms and calm nights while "
        "the crew learns to trust the stars and each other on the long "
        "voyage home to the harbor where their families wait. " * 2
    )
    near_10 = base.replace("fox", "hound")      # ~2 shingles differ
    near_21 = third.replace("boat", "vessel")

    src = str(tmp_path / "docs_src")
    _write_doc_file(spark, src, [(10, base, "en", "web", 1),
                                 (11, other, "en", "web", 1)])
    _write_doc_file(spark, src, [(20, near_10, "en", "crawl", 1),   # cross-batch near-dup
                                 (21, third, "en", "crawl", 1),
                                 (22, near_21, "en", "crawl", 1)])  # in-batch near-dup

    schema = spark.read.parquet(src).schema
    accepted = ManagedTable(str(tmp_path / "accepted"))

    def drain(ckpt):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .withColumn("quality", quality_score("text").cast("bigint"))
        )
        q = curation_ingest_neardup(
            stream, accepted, str(tmp_path / "mh_index"),
            str(tmp_path / ckpt), min_quality=50,
        )
        q.awaitTermination(180)

    drain("ckpt1")
    got = {r.doc_id for r in accepted.read(spark).collect()}
    assert got == {10, 11, 21}

    drain("ckpt2")  # replay: exact hashes + index both already know everything
    assert {r.doc_id for r in accepted.read(spark).collect()} == {10, 11, 21}


def test_stop_after_drained_counts_batches_beyond_progress_window():
    """ADVICE r5: recentProgress retains ~100 entries; a drain spanning
    more batches must still count every batch's rows exactly once (keyed
    by batchId), not re-sum the bounded window — which would undercount
    and raise a spurious TimeoutError. Simulated with a fake query whose
    progress window holds only the LAST 3 batches of a 10-batch drain."""
    from databricks_etl_pipelines_spark.streaming.structured import (
        stop_after_drained,
    )

    class FakeQuery:
        id = "fake"

        def __init__(self):
            self.calls = 0
            self.stopped = False

        @property
        def status(self):
            drained = self.calls >= 10
            return {
                "isDataAvailable": not drained,
                "isTriggerActive": not drained,
            }

        @property
        def recentProgress(self):
            # one new 5-row batch per poll; window keeps only the last 3
            if self.calls < 10:
                self.calls += 1
            lo = max(0, self.calls - 3)
            return [
                {"batchId": b, "numInputRows": 5}
                for b in range(lo, self.calls)
            ]

        def exception(self):
            return None

        def stop(self):
            self.stopped = True

        def awaitTermination(self, timeout_s):
            return True

    q = FakeQuery()
    # 10 batches x 5 rows = 50 expected; any single window sums to <= 15,
    # so the pre-fix re-sum could never reach the floor
    stop_after_drained(q, expected_rows=50, timeout_s=30)
    assert q.stopped and q.calls == 10


def test_curation_ingest_neardup_crossengine_family_same_admissions(
    spark, tmp_path
):
    """family="crossengine" (md5+Karp-Rabin, the SQL-replayable hash
    family behind streaming_curation_neardup_crossengine's oracle) must
    make the same admission decisions as the planted-corpus scenario the
    xxhash64 default is pinned to: cross-batch paraphrase rejected via the
    persisted index, in-batch near-dup pair keeps the min id, distinct
    docs admitted. Different LSH hash families CAN legitimately differ on
    borderline pairs — these plants are far from the threshold, so
    agreement here is a real invariant, not luck."""
    from databricks_etl_pipelines_spark.operators.curation import quality_score
    from databricks_etl_pipelines_spark.sources.managed_table import ManagedTable
    from databricks_etl_pipelines_spark.streaming.structured import (
        curation_ingest_neardup,
    )

    base = (
        "the quick brown fox jumps over the lazy dog and that is a fine "
        "thing to see in the morning for all of us who like to walk "
        "outside when the sun is up and the air is cool and the birds "
        "are singing in the trees near the old stone bridge. " * 2
    )
    other = (
        "a completely different report about the annual budget meeting "
        "where the committee discussed revenue targets and the plan for "
        "new hiring across the engineering and sales teams during the "
        "next fiscal year with a focus on sustainable growth. " * 2
    )
    third = (
        "yet another unrelated story that follows a small sailing boat "
        "across the northern sea through storms and calm nights while "
        "the crew learns to trust the stars and each other on the long "
        "voyage home to the harbor where their families wait. " * 2
    )
    near_10 = base.replace("fox", "hound")
    near_21 = third.replace("boat", "vessel")

    src = str(tmp_path / "docs_src")
    _write_doc_file(spark, src, [(10, base, "en", "web", 1),
                                 (11, other, "en", "web", 1)])
    _write_doc_file(spark, src, [(20, near_10, "en", "crawl", 1),
                                 (21, third, "en", "crawl", 1),
                                 (22, near_21, "en", "crawl", 1)])

    schema = spark.read.parquet(src).schema
    accepted = ManagedTable(str(tmp_path / "accepted"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withColumn("quality", quality_score("text").cast("bigint"))
    )
    q = curation_ingest_neardup(
        stream, accepted, str(tmp_path / "mh_index"),
        str(tmp_path / "ckpt"), min_quality=50,
        threshold=0.5, num_perm=16, bands=4, family="crossengine",
    )
    q.awaitTermination(180)
    got = {r.doc_id for r in accepted.read(spark).collect()}
    assert got == {10, 11, 21}


def test_streaming_dsir_multibatch_matches_batch(spark, sf_dir, tmp_path):
    """DSIR stream scoring over 3 micro-batches against a fixed profile
    must equal the one-shot batch scorer row-for-row (the profile is
    static, docs don't span batches), and every doc is scored exactly
    once."""
    from databricks_etl_pipelines_spark.operators.curation import (
        dsir_importance_weights,
        dsir_log_ratios,
    )
    from databricks_etl_pipelines_spark.sources import table
    from databricks_etl_pipelines_spark.streaming.structured import (
        await_drained,
        dsir_score_stream,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    src = str(tmp_path / "src")
    docs.repartition(3).write.mode("overwrite").parquet(src)
    target = F.col("source").isin("src1", "src2", "src3")

    ratios = dsir_log_ratios(docs, "text", target, n_buckets=32).persist()
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = str(tmp_path / "scores")
    q = dsir_score_stream(
        stream, ratios, out, str(tmp_path / "ckpt"), n_buckets=32
    )
    await_drained(q, 120)
    ratios.unpersist()

    cols = ["doc_id", "n_tokens", "dsir_weight", "dsir_weight_per_token"]
    scores = spark.read.parquet(out)
    assert "batch_id" in scores.columns  # replay-idempotent partitioned sink
    got = sorted(map(tuple, scores.select(*cols).collect()))
    want = sorted(
        map(tuple, dsir_importance_weights(
            docs, "text", "doc_id", target, n_buckets=32
        ).select(*cols).collect())
    )
    assert got == want
    assert len(got) == docs.count()


def test_reservoir_sample_stream_batch_split_invariant(spark, tmp_path):
    """The stream-maintained bottom-k sample must be INDEPENDENT of how
    rows were split into micro-batches: draining 40 docs as 4 batches of
    10 yields exactly the one-shot batch bottom-k by (reservoir_key, id).
    A replay drain with a fresh checkpoint leaves the sample unchanged
    (idempotent fold), and the state table never exceeds k rows."""
    from databricks_etl_pipelines_spark.operators.curation import (
        reservoir_key,
    )
    from databricks_etl_pipelines_spark.sources.managed_table import (
        ManagedTable,
    )
    from databricks_etl_pipelines_spark.streaming.structured import (
        reservoir_sample_stream,
    )

    src = str(tmp_path / "rsv_src")
    rows = [(i, f"document number {i}", "en", "web", 20) for i in range(40)]
    for b in range(4):  # 4 files -> 4 micro-batches with maxFilesPerTrigger=1
        _write_doc_file(spark, src, rows[b * 10 : (b + 1) * 10])

    schema = spark.read.parquet(src).schema
    sample = ManagedTable(str(tmp_path / "rsv_sample"))
    k = 7

    def drain(ckpt):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .select("doc_id", "source")
        )
        q = reservoir_sample_stream(
            stream, sample, str(tmp_path / ckpt), k=k
        )
        assert q.awaitTermination(120)

    drain("rsv_ckpt1")
    got = sorted(
        (r.doc_id, r.sample_key) for r in sample.read(spark).collect()
    )
    assert len(got) == k

    batch = (
        spark.createDataFrame([(i,) for i in range(40)], "doc_id long")
        .withColumn("sample_key", reservoir_key("doc_id"))
        .orderBy("sample_key", "doc_id")
        .limit(k)
    )
    want = sorted((r.doc_id, r.sample_key) for r in batch.collect())
    assert got == want

    drain("rsv_ckpt2")  # replay: identical rows fold to the same bottom-k
    assert sorted(
        (r.doc_id, r.sample_key) for r in sample.read(spark).collect()
    ) == want


def test_reservoir_redelivery_first_payload_wins(spark, tmp_path):
    """Pins the reservoir's re-delivery contract: when a later batch
    re-delivers an id already in the sample with a MUTATED payload, the
    FIRST-delivered payload survives (the batch side is anti-joined
    against the persisted sample's ids before the union) — not an
    arbitrary dropDuplicates winner. Also pins the on-disk state bound:
    per-batch commits are vacuumed down to ``keep_versions`` live
    versions, so a long stream's version history cannot grow without
    bound."""
    from databricks_etl_pipelines_spark.sources.managed_table import (
        ManagedTable,
        _read_log,
    )
    from databricks_etl_pipelines_spark.streaming.structured import (
        reservoir_sample_stream,
    )

    src = str(tmp_path / "rsv_mut_src")
    _write_doc_file(
        spark, src,
        [(i, f"document number {i}", "en", "web", 20) for i in range(10)],
    )
    schema = spark.read.parquet(src).schema
    sample = ManagedTable(str(tmp_path / "rsv_mut_sample"))

    def drain(ckpt):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .select("doc_id", "source")
        )
        q = reservoir_sample_stream(
            stream, sample, str(tmp_path / ckpt), k=20, keep_versions=2
        )
        assert q.awaitTermination(120)

    drain("rsv_mut_ckpt")
    # mutated re-delivery of ids 3-6 plus three genuinely new ids; the
    # SAME checkpoint means only the new file forms the next micro-batch
    _write_doc_file(
        spark, src,
        [(i, "mutated", "en", "mut", 7) for i in (3, 4, 5, 6, 10, 11, 12)],
    )
    drain("rsv_mut_ckpt")

    got = {r.doc_id: r.source for r in sample.read(spark).collect()}
    # k=20 > 13 distinct ids: every id is in the sample, so the payload
    # assertion is direct — first delivery wins for 3-6, new ids land
    assert got == {
        **{i: "web" for i in range(10)},
        **{i: "mut" for i in (10, 11, 12)},
    }
    live = [e for e in _read_log(sample.root) if not e.get("vacuumed")]
    assert len(live) <= 2, [e["version"] for e in live]


def test_kmv_distinct_estimate_both_regimes(spark, sf_dir):
    """agg_kmv_distinct in both sketch regimes. sf0.001 (150 distinct
    custkeys < k=256): the sketch is NOT full, so it IS the distinct set
    and the estimate must be exact. sf0.01 (~1000 distinct > k): full
    sketch, deterministic estimate within 20% of the exact count
    (theory: ~1/sqrt(k-2) ≈ 6% at k=256; 20% is >3 sigma)."""
    from databricks_etl_pipelines_spark.plans.queries_aggregates import (
        _KMV_K,
        agg_kmv_distinct,
    )

    small = agg_kmv_distinct(spark, sf_dir).collect()[0]
    assert small.n_keys < _KMV_K
    assert small.n_keys == small.exact_distinct
    assert small.kmv_estimate == float(small.exact_distinct)

    # full-sketch regime needs more distinct keys than sf0.001 carries:
    # use the sibling sf0.01 layout next to the fixture dir, skipping on
    # machines without it rather than hardcoding an absolute path
    import os

    sf001 = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.01")
    if not os.path.isdir(sf001):
        pytest.skip(f"sibling scale factor {sf001} not present")
    full = agg_kmv_distinct(spark, sf001).collect()[0]
    assert full.n_keys == _KMV_K
    rel = abs(full.kmv_estimate - full.exact_distinct) / full.exact_distinct
    assert rel < 0.20, (full.kmv_estimate, full.exact_distinct)


def test_countmin_partials_merge_to_one_shot_sketch(spark, sf_dir):
    """CM mergeability, the property the streaming oracle rides on:
    splitting the corpus into arbitrary parts, building partial cells
    per part, and summing them at read time must equal the one-shot
    sketch cell-for-cell. Also pins the replay recipe: writing a batch's
    partials TWICE (overwrite) leaves the merged counters unchanged —
    the exactly-once guarantee of the batch_id=<n> OVERWRITE layout."""
    import pyspark.sql.functions as F

    from databricks_etl_pipelines_spark.functions.textfns import tokens
    from databricks_etl_pipelines_spark.plans.queries_aggregates import (
        countmin_cells,
    )
    from databricks_etl_pipelines_spark.sources import table
    from databricks_etl_pipelines_spark.sources.scratch import scratch_dir

    docs = table(spark, sf_dir, "documents")

    def cells_of(df):
        wc = (
            df.select(F.explode(tokens("text")).alias("word"))
            .groupBy("word")
            .agg(F.count("*").alias("n"))
        )
        return countmin_cells(wc)

    one_shot = {
        (r.r, r.b): r.c for r in cells_of(docs).collect()
    }

    out = scratch_dir("cm_merge_test_")
    for part in range(3):
        cells_of(docs.filter(F.col("doc_id") % 3 == part)).write.mode(
            "overwrite"
        ).parquet(f"{out}/batch_id={part}")
    # replay batch 1: overwrite its partition a second time
    cells_of(docs.filter(F.col("doc_id") % 3 == 1)).write.mode(
        "overwrite"
    ).parquet(f"{out}/batch_id=1")

    from databricks_etl_pipelines_spark.streaming.structured import (
        countmin_merge,
    )

    merged = {
        (r.r, r.b): r.c for r in countmin_merge(spark, out).collect()
    }
    assert merged == one_shot


def test_ema_stream_replay_idempotent_and_carryover(spark, tmp_path):
    """The streaming EMA's snapshot discipline, driven directly through
    the foreachBatch handler semantics on a planted feed:

    - batch-sequential folding equals the hand-computed one-shot fold;
    - a key ABSENT from a later batch carries its state over unchanged;
    - re-delivering a batch (crash replay) recomputes from the prior
      snapshot and leaves the final state byte-identical — the
      running-value analog of CM's overwrite-partition idempotence."""
    import datetime as dt

    from databricks_etl_pipelines_spark.streaming.structured import (
        ema_final,
        ema_stream,
    )

    def ev(eid, minute, uid, val):
        return (eid, dt.datetime(2024, 1, 1, 0, minute), uid, val)

    b0 = [ev(1, 1, 7, 1.0), ev(2, 2, 7, 2.0), ev(3, 1, 8, 10.0)]
    b1 = [ev(4, 11, 7, 3.0), ev(5, 12, 7, 4.0)]  # user 8 absent
    schema = "event_id long, ts timestamp, user_id long, value double"
    feed = tmp_path / "feed"
    feed.mkdir()
    import os
    import time

    base = time.time()
    for i, rows in enumerate((b0, b1)):
        tmp = tmp_path / f"slice{i}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(tmp)
        )
        part = next(tmp.glob("part-*.parquet"))
        dst = feed / f"batch-{i}.parquet"
        part.rename(dst)
        os.utime(dst, (base + i, base + i))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(feed))
    )
    state = str(tmp_path / "state")
    q = ema_stream(stream, state, str(tmp_path / "ckpt"))
    from databricks_etl_pipelines_spark.streaming.structured import (
        await_drained,
    )

    await_drained(q, 120)
    got = {r.k: r for r in ema_final(spark, state).collect()}
    # user 7 one-shot: 1,2,3,4 -> ema_half 3.125 (the planted series
    # from the batch test); user 8: untouched since batch 0
    assert got[7].ema_half == 3.125 and got[7].n_events == 4
    assert got[7].last_value == 4.0
    assert got[8].ema_half == 10.0 and got[8].n_events == 1

    # crash replay of the LAST batch: re-run its fold from snapshot 0
    # — b=1 must be rewritten with identical content
    before = {r.k: r for r in spark.read.parquet(f"{state}/b=1").collect()}
    # drive the handlers the way a restarted checkpoint would: same
    # batch ids, same inputs, prior state on disk
    q2 = ema_stream(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(feed)),
        state,
        str(tmp_path / "ckpt2"),  # fresh checkpoint -> batches replay 0,1
    )
    await_drained(q2, 120)
    after = {r.k: r for r in spark.read.parquet(f"{state}/b=1").collect()}
    assert before == after
    assert {r.k: r for r in ema_final(spark, state).collect()} == got


def test_ema_stream_rejects_out_of_order_batch(spark, tmp_path):
    """The chronological contract is enforced, not assumed: a feed whose
    second batch contains a row at-or-before a key's folded
    (ts, event_id) watermark must fail the drain loudly instead of
    folding old values after new ones into plausible-wrong EMAs."""
    import datetime as dt
    import os
    import time

    import pytest as _pytest

    from databricks_etl_pipelines_spark.streaming.structured import (
        await_drained,
        ema_stream,
    )

    schema = "event_id long, ts timestamp, user_id long, value double"
    b0 = [(2, dt.datetime(2024, 1, 1, 0, 20), 7, 2.0)]
    b1 = [(1, dt.datetime(2024, 1, 1, 0, 10), 7, 1.0)]  # EARLIER than b0
    feed = tmp_path / "feed"
    feed.mkdir()
    base = time.time()
    for i, rows in enumerate((b0, b1)):
        tmp = tmp_path / f"slice{i}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(tmp)
        )
        dst = feed / f"batch-{i}.parquet"
        next(tmp.glob("part-*.parquet")).rename(dst)
        os.utime(dst, (base + i, base + i))
    q = ema_stream(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(feed)),
        str(tmp_path / "state"),
        str(tmp_path / "ckpt"),
    )
    with _pytest.raises(Exception, match="ema_stream: batch"):
        await_drained(q, 120)


def test_ema_stream_empty_batch0_clears_foreign_b0_state(spark, tmp_path):
    """Run-ownership hole regression: a NEW run whose batch 0 is EMPTY
    must still clear a previous run's b=0 snapshot — otherwise its
    batch 1 would silently fold onto the foreign run's per-key EMA
    state. Run A folds two batches for user 7; run B (fresh checkpoint,
    same state_root) streams an empty batch 0 then fresh user-9 rows —
    its final state must contain ONLY run B's keys, seeded from
    scratch."""
    import datetime as dt
    import os
    import time

    from databricks_etl_pipelines_spark.streaming.structured import (
        await_drained,
        ema_final,
        ema_stream,
    )

    schema = "event_id long, ts timestamp, user_id long, value double"

    def ev(eid, minute, uid, val):
        return (eid, dt.datetime(2024, 1, 1, 0, minute), uid, val)

    def feed_dir(name, batches):
        feed = tmp_path / name
        feed.mkdir()
        base = time.time()
        for i, rows in enumerate(batches):
            tmp = tmp_path / f"{name}_slice{i}"
            spark.createDataFrame(rows, schema).coalesce(
                1
            ).write.parquet(str(tmp))
            part = next(tmp.glob("part-*.parquet"))
            dst = feed / f"batch-{i}.parquet"
            part.rename(dst)
            os.utime(dst, (base + i, base + i))
        return feed

    state = str(tmp_path / "state")
    feed_a = feed_dir(
        "feedA",
        [[ev(1, 1, 7, 1.0), ev(2, 2, 7, 2.0)], [ev(3, 11, 7, 3.0)]],
    )
    qa = ema_stream(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(feed_a)),
        state,
        str(tmp_path / "ckptA"),
    )
    await_drained(qa, 120)
    assert os.path.isdir(f"{state}/b=0")  # run A's seed snapshot

    # run B: EMPTY batch 0 (zero-row file), then user-9 rows
    feed_b = feed_dir("feedB", [[], [ev(10, 21, 9, 5.0)]])
    qb = ema_stream(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(feed_b)),
        state,
        str(tmp_path / "ckptB"),
    )
    await_drained(qb, 120)
    got = {r.k: r for r in ema_final(spark, state).collect()}
    # ONLY run B's key, seeded fresh — run A's user 7 must be gone
    assert set(got) == {9}
    assert got[9].ema_half == 5.0 and got[9].n_events == 1


def test_ema_stream_torn_marker_fails_with_ownership_error(
    spark, tmp_path
):
    """Crash-safety regression: a TRUNCATED ``_run.json`` (machine
    crash between the checkpoint commit and the marker write, before
    the atomic-replace fix; or any torn/corrupt marker) must surface
    as the DESCRIPTIVE ownership ValueError at the next batch > 0 —
    never as a raw JSONDecodeError from inside the handler."""
    import datetime as dt
    import os
    import time

    import pytest as _pytest

    from databricks_etl_pipelines_spark.streaming.structured import (
        await_drained,
        ema_stream,
    )

    schema = "event_id long, ts timestamp, user_id long, value double"
    feed = tmp_path / "feed"
    feed.mkdir()
    base = time.time()

    def add_batch(i, rows):
        tmp = tmp_path / f"slice{i}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(tmp)
        )
        dst = feed / f"batch-{i}.parquet"
        next(tmp.glob("part-*.parquet")).rename(dst)
        os.utime(dst, (base + i, base + i))

    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    add_batch(0, [(1, dt.datetime(2024, 1, 1, 0, 1), 7, 1.0)])
    q = ema_stream(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(feed)),
        state,
        ckpt,
    )
    await_drained(q, 120)
    # tear the marker: truncated JSON, as a crash mid-write would leave
    with open(os.path.join(state, "_run.json"), "w") as fh:
        fh.write('{"checkpo')
    # resume the SAME checkpoint with a new file -> batch 1 verifies
    # ownership, reads the torn marker as owner-unknown, fails loudly
    add_batch(1, [(2, dt.datetime(2024, 1, 1, 0, 2), 7, 2.0)])
    q2 = ema_stream(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(feed)),
        state,
        ckpt,
    )
    with _pytest.raises(Exception, match="is owned by checkpoint"):
        await_drained(q2, 120)


def test_streaming_ks_drift_multibatch_equals_one_shot(spark, tmp_path):
    """streaming_ks_drift's incremental histogram folded over THREE
    micro-batches (maxFilesPerTrigger=1, an interleaved non-chronological
    split — the partial is pure additive counts, so unlike the EMA fold
    ANY split must work) equals the one-shot batch KS row-for-row."""
    import datetime as dt

    from databricks_etl_pipelines_spark.catalog import QUERIES, load_all
    from databricks_etl_pipelines_spark.plans.queries_stats import (
        _cumulate_hist,
        _ks_project,
        _two_cohort_partial,
    )
    from databricks_etl_pipelines_spark.sources.managed_table import (
        ManagedTable,
    )
    from databricks_etl_pipelines_spark.streaming.structured import (
        await_drained,
        incremental_aggregate,
    )

    load_all()
    rows = []
    for i in range(60):
        rows.append(
            (
                i,
                dt.datetime(2024, 1, 10 if i % 2 else 20, 12, 0, i),
                i,
                "t" if i % 3 else "u",
                float((i * 7) % 23) + 0.5,
                "{}",
            )
        )
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    df = spark.createDataFrame(rows, schema)
    feed = tmp_path / "events.parquet"
    # three files -> three micro-batches under maxFilesPerTrigger=1;
    # the split interleaves event ids (i % 3 buckets), NOT chronological
    df.repartition(3, "event_id").write.parquet(str(feed))
    one_shot = {
        r.event_type: r
        for r in QUERIES["diag_ks_two_sample"](spark, str(tmp_path)).collect()
    }
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(feed))
    )
    target = ManagedTable(str(tmp_path / "ks_gold"))
    q = incremental_aggregate(
        stream,
        target,
        ["g", "v"],
        _two_cohort_partial,
        str(tmp_path / "ks_ckpt"),
    )
    await_drained(q, 300)
    n_batches = len(
        [p for p in q.recentProgress if p["numInputRows"] > 0]
    )
    assert n_batches >= 3, n_batches
    streamed = {
        r.event_type: r
        for r in _ks_project(_cumulate_hist(target.read(spark))).collect()
    }
    assert set(streamed) == set(one_shot)
    for g, r in one_shot.items():
        s = streamed[g]
        assert (
            s.n_early, s.n_late, s.ks_num, s.ks_stat, s.ks_at_cents
        ) == (
            r.n_early, r.n_late, r.ks_num, r.ks_stat, r.ks_at_cents
        ), g


def test_streaming_psi_drift_multibatch_equals_one_shot(spark, tmp_path):
    """streaming_psi_drift's maintained histogram folded over THREE
    interleaved micro-batches equals the one-shot batch PSI row-for-row
    (the second consumer of the additive-histogram pattern — the
    shared _psi_project must be batch-split invariant end to end,
    edges and Laplace smoothing included)."""
    import datetime as dt

    from databricks_etl_pipelines_spark.catalog import QUERIES, load_all
    from databricks_etl_pipelines_spark.plans.queries_stats import (
        _cumulate_hist,
        _psi_project,
        _two_cohort_partial,
    )
    from databricks_etl_pipelines_spark.sources.managed_table import (
        ManagedTable,
    )
    from databricks_etl_pipelines_spark.streaming.structured import (
        await_drained,
        incremental_aggregate,
    )

    load_all()
    rows = []
    for i in range(90):
        rows.append(
            (
                i,
                dt.datetime(2024, 1, 10 if i % 2 else 20, 12, i // 60, i % 60),
                i,
                "t" if i % 3 else "u",
                float((i * 11) % 37) + 0.25,
                "{}",
            )
        )
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    feed = tmp_path / "events.parquet"
    df.repartition(3, "event_id").write.parquet(str(feed))
    one_shot = {
        (r.event_type, r.bin): r
        for r in QUERIES["diag_psi_stability"](spark, str(tmp_path)).collect()
    }
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(feed))
    )
    target = ManagedTable(str(tmp_path / "psi_gold"))
    q = incremental_aggregate(
        stream,
        target,
        ["g", "v"],
        _two_cohort_partial,
        str(tmp_path / "psi_ckpt"),
    )
    await_drained(q, 300)
    assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) >= 3
    streamed = {
        (r.event_type, r.bin): r
        for r in _psi_project(
            _cumulate_hist(target.read(spark)).drop("cb")
        ).collect()
    }
    assert set(streamed) == set(one_shot)
    for key, r in one_shot.items():
        s = streamed[key]
        assert (
            s.n_early, s.n_late, s.p_early, s.q_late, s.psi_contrib
        ) == (r.n_early, r.n_late, r.p_early, r.q_late, r.psi_contrib), key


def test_streaming_cvm_drift_multibatch_equals_one_shot(spark, tmp_path):
    """streaming_cvm_drift (third consumer of the maintained histogram)
    folded over THREE interleaved micro-batches equals the one-shot
    batch CvM row-for-row, exact lattice sum included."""
    import datetime as dt

    from databricks_etl_pipelines_spark.catalog import QUERIES, load_all
    from databricks_etl_pipelines_spark.plans.queries_stats import (
        _cumulate_hist,
        _cvm_project,
        _two_cohort_partial,
    )
    from databricks_etl_pipelines_spark.sources.managed_table import (
        ManagedTable,
    )
    from databricks_etl_pipelines_spark.streaming.structured import (
        await_drained,
        incremental_aggregate,
    )

    load_all()
    rows = [
        (
            i,
            dt.datetime(2024, 1, 10 if i % 2 else 20, 12, i // 60, i % 60),
            i,
            "t" if i % 4 else "u",
            float((i * 13) % 29) + 0.75,
            "{}",
        )
        for i in range(80)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    feed = tmp_path / "events.parquet"
    df.repartition(3, "event_id").write.parquet(str(feed))
    one_shot = {
        r.event_type: r
        for r in QUERIES["diag_cramer_von_mises"](
            spark, str(tmp_path)
        ).collect()
    }
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(feed))
    )
    target = ManagedTable(str(tmp_path / "cvm_gold"))
    q = incremental_aggregate(
        stream,
        target,
        ["g", "v"],
        _two_cohort_partial,
        str(tmp_path / "cvm_ckpt"),
    )
    await_drained(q, 300)
    assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) >= 3
    streamed = {
        r.event_type: r
        for r in _cvm_project(
            _cumulate_hist(target.read(spark))
        ).collect()
    }
    assert set(streamed) == set(one_shot)
    for g, r in one_shot.items():
        s = streamed[g]
        assert (s.n_early, s.n_late, s.cvm_q6, s.cvm_t) == (
            r.n_early, r.n_late, r.cvm_q6, r.cvm_t
        ), g


def test_fold_partial_batch_exactly_once_replay(spark, tmp_path):
    """Checkpoint replay must be invisible in the gold table: re-delivering
    an already-folded batch (same batch_id, same checkpoint — exactly what
    foreachBatch does after a crash between the sink commit and the
    checkpoint commit) folds NOTHING; only a genuinely new batch_id folds."""
    from databricks_etl_pipelines_spark.streaming.structured import (
        fold_partial_batch,
    )

    def partial(df):
        return df.groupBy("k").agg(F.sum("x").alias("sx"))

    gold = ManagedTable(str(tmp_path / "gold"))
    ckpt = str(tmp_path / "ckpt")
    b0 = spark.createDataFrame([(1, 10), (2, 5)], "k int, x int")
    b1 = spark.createDataFrame([(1, 7)], "k int, x int")

    fold_partial_batch(b0, 0, gold, ["k"], partial, ckpt)
    fold_partial_batch(b1, 1, gold, ["k"], partial, ckpt)
    # replay BOTH batches (at-least-once delivery) — must be no-ops
    fold_partial_batch(b0, 0, gold, ["k"], partial, ckpt)
    fold_partial_batch(b1, 1, gold, ["k"], partial, ckpt)
    got = {r.k: r.sx for r in gold.read(spark).collect()}
    assert got == {1: 17, 2: 5}  # NOT {1: 34, 2: 10}
    # the high-water mark is stamped atomically with the latest version
    meta = gold.latest_meta()
    assert meta["fold_checkpoint"] == ckpt
    assert meta["fold_batch_id"] == 1
    # a new batch id still folds
    fold_partial_batch(b1, 2, gold, ["k"], partial, ckpt)
    assert {r.k: r.sx for r in gold.read(spark).collect()} == {1: 24, 2: 5}


def test_fold_partial_batch_ownership(spark, tmp_path):
    """Foreign gold state: batch 0 of a new checkpoint takes the table over
    (warning + overwrite — stale scratch semantics, even when batch 0 is
    EMPTY); a batch > 0 pointed at another query's gold fails loudly."""
    import warnings as _w

    import pytest

    from databricks_etl_pipelines_spark.streaming.structured import (
        fold_partial_batch,
    )

    def partial(df):
        return df.groupBy("k").agg(F.sum("x").alias("sx"))

    gold = ManagedTable(str(tmp_path / "gold"))
    b = spark.createDataFrame([(1, 10)], "k int, x int")
    fold_partial_batch(b, 0, gold, ["k"], partial, str(tmp_path / "ckptA"))

    # batch > 0 of a DIFFERENT checkpoint: loud failure, gold untouched
    with pytest.raises(ValueError, match="maintained by checkpoint"):
        fold_partial_batch(b, 1, gold, ["k"], partial, str(tmp_path / "ckptB"))
    assert {r.k: r.sx for r in gold.read(spark).collect()} == {1: 10}

    # EMPTY batch 0 of a new checkpoint: takeover must still invalidate the
    # foreign aggregate so batch 1 never folds onto it
    empty = spark.createDataFrame([], "k int, x int")
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        fold_partial_batch(
            empty, 0, gold, ["k"], partial, str(tmp_path / "ckptB")
        )
    assert any("taking over" in str(w.message) for w in rec)
    assert gold.read(spark).count() == 0
    fold_partial_batch(b, 1, gold, ["k"], partial, str(tmp_path / "ckptB"))
    assert {r.k: r.sx for r in gold.read(spark).collect()} == {1: 10}


def test_fold_partial_batch_survives_nonfold_commits(spark, tmp_path):
    """A non-fold commit between batches (OPTIMIZE compaction, an explicit
    owner-side append) must not shadow the fold markers: the newest
    fold-stamped manifest entry — found by BACKWARD scan — still carries
    the high-water mark, so a replayed batch folds NOTHING and ownership
    is still detected. The newest-entry-only read silently degraded the
    table to an unstamped bootstrap and double-folded replays."""
    import pytest

    from databricks_etl_pipelines_spark.streaming.structured import (
        fold_partial_batch,
    )

    def partial(df):
        return df.groupBy("k").agg(F.sum("x").alias("sx"))

    gold = ManagedTable(str(tmp_path / "gold"))
    ckpt = str(tmp_path / "ckpt")
    b0 = spark.createDataFrame([(1, 10), (2, 5)], "k int, x int")
    b1 = spark.createDataFrame([(1, 7)], "k int, x int")

    fold_partial_batch(b0, 0, gold, ["k"], partial, ckpt)
    # maintenance commit: newest manifest entry has NO fold markers
    gold.optimize(spark, target_partitions=1)
    assert "fold_checkpoint" not in gold.latest_meta()
    # replay of batch 0 must STILL be a no-op
    fold_partial_batch(b0, 0, gold, ["k"], partial, ckpt)
    assert {r.k: r.sx for r in gold.read(spark).collect()} == {1: 10, 2: 5}
    # a genuinely new batch folds onto the compacted rows
    fold_partial_batch(b1, 1, gold, ["k"], partial, ckpt)
    assert {r.k: r.sx for r in gold.read(spark).collect()} == {1: 17, 2: 5}

    # an owner-side append between folds is bootstrap data: folded onto,
    # replay detection intact
    gold.append(spark.createDataFrame([(3, 100)], "k int, sx bigint"))
    fold_partial_batch(b1, 1, gold, ["k"], partial, ckpt)  # replay: no-op
    assert {r.k: r.sx for r in gold.read(spark).collect()} == {
        1: 17, 2: 5, 3: 100,
    }
    fold_partial_batch(b1, 2, gold, ["k"], partial, ckpt)
    assert {r.k: r.sx for r in gold.read(spark).collect()} == {
        1: 24, 2: 5, 3: 100,
    }
    # ownership also survives the shadowing commits: a foreign batch > 0
    # still fails loudly
    gold.optimize(spark, target_partitions=1)
    with pytest.raises(ValueError, match="maintained by checkpoint"):
        fold_partial_batch(b1, 3, gold, ["k"], partial, str(tmp_path / "B"))


def test_fold_partial_batch_combine_validation(spark, tmp_path):
    """When ``combine`` is provided it must cover the partial aggregate's
    metric columns EXACTLY with known folds — a metric column silently
    defaulting to "sum" corrupts a min/max entity-state gold with no
    error, and a typo'd fold name must be a descriptive ValueError, not a
    raw KeyError."""
    import pytest

    from databricks_etl_pipelines_spark.streaming.structured import (
        fold_partial_batch,
    )

    def partial(df):
        return df.groupBy("k").agg(
            F.min("x").alias("mn"), F.max("x").alias("mx")
        )

    b = spark.createDataFrame([(1, 10), (1, 3)], "k int, x int")
    ckpt = str(tmp_path / "ckpt")

    with pytest.raises(ValueError, match="unknown fold"):
        fold_partial_batch(
            b, 0, ManagedTable(str(tmp_path / "g1")), ["k"], partial, ckpt,
            combine={"mn": "min", "mx": "maximum"},
        )
    with pytest.raises(ValueError, match="missing=\\['mx'\\]"):
        fold_partial_batch(
            b, 0, ManagedTable(str(tmp_path / "g2")), ["k"], partial, ckpt,
            combine={"mn": "min"},
        )
    with pytest.raises(ValueError, match="not-in-partial=\\['xx'\\]"):
        fold_partial_batch(
            b, 0, ManagedTable(str(tmp_path / "g3")), ["k"], partial, ckpt,
            combine={"mn": "min", "mx": "max", "xx": "sum"},
        )
    # a complete, valid mapping still folds
    g = ManagedTable(str(tmp_path / "g4"))
    fold_partial_batch(b, 0, g, ["k"], partial, ckpt,
                       combine={"mn": "min", "mx": "max"})
    row = g.read(spark).collect()[0]
    assert (row.mn, row.mx) == (3, 10)


def test_cusum_stream_cross_batch_alarm_continuity(spark, tmp_path):
    """Streaming CUSUM on a planted 3-batch chronological feed: the
    excess accumulates ACROSS batch boundaries and the sticky 1-based
    alarm index is GLOBAL over the key's whole event sequence —

    - user 7's alarm fires mid-batch-2 at global index 5 (its batch-2
      local index is 1; continuity of both the running excess and the
      position counter across snapshots is what makes it 5);
    - user 8 alarms inside batch 0 and the index survives untouched
      through two later batches it never appears in;
    - user 9 never alarms (final/max excess still exact).

    K=$1 (100 cents), H=$5 (500 cents). Hand-computed one-shot folds in
    the asserts."""
    import datetime as dt

    from databricks_etl_pipelines_spark.streaming.structured import (
        await_drained,
        cusum_stream,
        snapshot_final,
    )

    def ev(eid, minute, uid, val):
        return (eid, dt.datetime(2024, 1, 1, 0, minute), uid, val)

    # user 7 cents vs K=100 per step: +200, +200 | -50, -50 | +300, +300
    # — batch 1's sub-K values DECAY the excess (the one-sided clamp at
    # 0 never engages for user 7), so the batch-2 alarm depends on the
    # exact carried excess, not just the position counter
    b0 = [ev(1, 1, 7, 3.0), ev(2, 2, 7, 3.0), ev(3, 1, 8, 7.0), ev(4, 2, 9, 0.5)]
    b1 = [ev(5, 11, 7, 0.5), ev(6, 12, 7, 0.5)]
    b2 = [ev(7, 21, 7, 4.0), ev(8, 22, 7, 4.0), ev(9, 23, 9, 0.5)]
    schema = "event_id long, ts timestamp, user_id long, value double"
    feed = tmp_path / "feed"
    feed.mkdir()
    import os
    import time

    base = time.time()
    for i, rows in enumerate((b0, b1, b2)):
        tmp = tmp_path / f"slice{i}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(tmp))
        part = next(tmp.glob("part-*.parquet"))
        dst = feed / f"batch-{i}.parquet"
        part.rename(dst)
        os.utime(dst, (base + i, base + i))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(feed))
    )
    state = str(tmp_path / "state")
    q = cusum_stream(stream, state, str(tmp_path / "ckpt"), 100, 500)
    await_drained(q, 120)
    got = {r.k: r for r in snapshot_final(spark, state).collect()}

    # user 7 one-shot (cents, K=100): 300,300 | 50,50 | 400,400
    #   m: 200, 400 | 350, 300 | 600*, 900   (* 600>500 -> alarm at
    #   global step 5 — needs batch-0 excess AND batch-1 position count)
    assert got[7].final_cusum == 900
    assert got[7].max_cusum == 900
    assert got[7].alarm_index == 5
    assert got[7].n_events == 6
    # user 8: single 700-cent event -> m=600>500, alarm at index 1,
    # then absent for two batches — state carried unchanged
    assert got[8].final_cusum == 600
    assert got[8].alarm_index == 1
    assert got[8].n_events == 1
    # user 9: 50-cent values never exceed K -> m pinned at 0, no alarm
    assert got[9].final_cusum == 0
    assert got[9].max_cusum == 0
    assert got[9].alarm_index == 0
    assert got[9].n_events == 2


def test_page_hinkley_stream_bitexact_vs_batch(spark, tmp_path):
    """Streaming Page-Hinkley over a planted 2-batch chronological feed
    equals the batch detector BIT-EXACTLY (raw doubles compared before
    any rounding): the float recurrence re-seeded from a snapshot must
    execute the identical IEEE op sequence as the one-shot fold — the
    skeleton's EMA discipline carried to a 6-double state."""
    import datetime as dt

    from databricks_etl_pipelines_spark.streaming.structured import (
        await_drained,
        page_hinkley_stream,
        snapshot_final,
    )

    def ev(eid, minute, uid, val):
        return (eid, dt.datetime(2024, 1, 1, 0, minute), uid, val)

    # user 1 drifts upward mid-stream (values create a nonzero minm and
    # a late excursion); user 2 stays flat
    b0 = [ev(1, 1, 1, 1.0), ev(2, 2, 1, 1.2), ev(3, 3, 2, 3.0)]
    b1 = [ev(4, 11, 1, 9.0), ev(5, 12, 1, 11.0), ev(6, 13, 2, 3.0)]
    schema = "event_id long, ts timestamp, user_id long, value double"
    feed = tmp_path / "feed"
    feed.mkdir()
    import os
    import time

    base = time.time()
    for i, rows in enumerate((b0, b1)):
        tmp = tmp_path / f"slice{i}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(tmp))
        part = next(tmp.glob("part-*.parquet"))
        dst = feed / f"batch-{i}.parquet"
        part.rename(dst)
        os.utime(dst, (base + i, base + i))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(feed))
    )
    state = str(tmp_path / "state")
    delta, lam = 50.0, 300.0
    q = page_hinkley_stream(
        stream, state, str(tmp_path / "ckpt"), delta, lam
    )
    await_drained(q, 120)
    got = {r.k: r for r in snapshot_final(spark, state).collect()}

    # one-shot replay in raw Python (same cents-lattice doubles)
    import math

    series = {1: [1.0, 1.2, 9.0, 11.0], 2: [3.0, 3.0]}
    for uid, vals in series.items():
        n = s = m = minm = phmax = alarm = 0.0
        for v in vals:
            x = float(math.floor(v * 100 + 0.5))
            n += 1.0
            s += x
            m += x - s / n - delta
            minm = min(minm, m)
            ph = m - minm
            phmax = max(phmax, ph)
            if alarm == 0.0 and ph > lam:
                alarm = n
        r = got[uid]
        # bit-exact raw state, not rounded
        assert (r.ph_n, r.ph_s, r.ph_m, r.ph_minm, r.ph_phmax,
                r.ph_alarm) == (n, s, m, minm, phmax, alarm), uid
    assert got[1].ph_alarm > 0.0  # the drift user alarms
    assert got[2].ph_alarm == 0.0


def test_streaming_km_matches_batch_and_minmax_replay(spark, sf_dir, tmp_path):
    """streaming_kaplan_meier drains a NON-chronological (event_id % 3)
    feed and must equal the batch diag_kaplan_meier row-for-row —
    min/max monoid partials are order-independent across any batch
    split. Then fold_partial_batch with min/max combine is replayed
    directly: a re-delivered batch must leave the min/max gold
    unchanged (exactly-once applies to every monoid, not just sum)."""
    from databricks_etl_pipelines_spark.catalog import QUERIES, load_all
    from databricks_etl_pipelines_spark.streaming.structured import (
        fold_partial_batch,
    )

    load_all()
    batch = {
        (r.cohort, r.t): r
        for r in QUERIES["diag_kaplan_meier"](spark, sf_dir).collect()
    }
    streamed = {
        (r.cohort, r.t): r
        for r in QUERIES["streaming_kaplan_meier"](spark, sf_dir).collect()
    }
    assert set(batch) == set(streamed)
    for k, b in batch.items():
        s = streamed[k]
        assert (s.n_risk, s.n_event, s.n_censored, s.survival) == (
            b.n_risk, b.n_event, b.n_censored, b.survival
        ), k

    # direct min/max replay through the fold body
    def partial(df):
        return df.groupBy("k").agg(
            F.min("x").alias("lo"), F.max("x").alias("hi")
        )

    gold = ManagedTable(str(tmp_path / "gold"))
    ckpt = str(tmp_path / "ckpt")
    combine = {"lo": "min", "hi": "max"}
    b0 = spark.createDataFrame([(1, 10), (1, 3)], "k int, x int")
    b1 = spark.createDataFrame([(1, 7)], "k int, x int")
    fold_partial_batch(b0, 0, gold, ["k"], partial, ckpt, combine)
    fold_partial_batch(b1, 1, gold, ["k"], partial, ckpt, combine)
    fold_partial_batch(b0, 0, gold, ["k"], partial, ckpt, combine)  # replay
    fold_partial_batch(b1, 1, gold, ["k"], partial, ckpt, combine)  # replay
    rows = gold.read(spark).collect()
    assert len(rows) == 1 and (rows[0].lo, rows[0].hi) == (3, 10)


def test_drift_suite_matches_standalone_detectors(spark, sf_dir):
    """streaming_drift_suite (one maintained histogram, three
    projections) must equal the three STANDALONE queries value-for-value
    — amortizing the maintenance cannot perturb any verdict."""
    from databricks_etl_pipelines_spark.catalog import QUERIES, load_all

    load_all()
    suite = {
        r.event_type: r
        for r in QUERIES["streaming_drift_suite"](spark, sf_dir).collect()
    }
    ks = {
        r.event_type: r
        for r in QUERIES["streaming_ks_drift"](spark, sf_dir).collect()
    }
    cvm = {
        r.event_type: r
        for r in QUERIES["streaming_cvm_drift"](spark, sf_dir).collect()
    }
    psi = {}
    for r in QUERIES["streaming_psi_drift"](spark, sf_dir).collect():
        import math

        psi[r.event_type] = psi.get(r.event_type, 0) + math.floor(
            r.psi_contrib * 1e6 + 0.5
        )
    assert set(suite) == set(ks) == set(cvm)
    for g, s in suite.items():
        assert (s.n_early, s.n_late, s.ks_stat) == (
            ks[g].n_early, ks[g].n_late, ks[g].ks_stat
        ), g
        assert s.cvm_t == cvm[g].cvm_t, g
        assert s.psi_total == psi[g] / 1e6, g


def test_fold_marker_cleared_by_owner_overwrite(spark, tmp_path):
    """An owner-side create_or_overwrite is a deliberate STATE RESET:
    it must tombstone the fold markers so a stream restarted after the
    reset (fresh checkpoint semantics, batch ids back at 0) folds its
    batches instead of having them dropped as 'replays' of the
    resurrected pre-reset high-water mark — the r13 backward scan alone
    kept the old marker alive forever. Maintenance commits (optimize/
    append) must still NOT clear markers (the r13 guarantee)."""
    from databricks_etl_pipelines_spark.streaming.structured import (
        fold_partial_batch,
    )

    def partial(df):
        return df.groupBy("k").agg(F.sum("x").alias("sx"))

    gold = ManagedTable(str(tmp_path / "gold"))
    ckpt = str(tmp_path / "ckpt")
    b0 = spark.createDataFrame([(1, 10), (2, 5)], "k int, x int")
    b1 = spark.createDataFrame([(1, 7)], "k int, x int")

    fold_partial_batch(b0, 0, gold, ["k"], partial, ckpt)
    fold_partial_batch(b1, 1, gold, ["k"], partial, ckpt)
    assert gold.latest_meta(having="fold_checkpoint")["fold_batch_id"] == 1

    # owner resets the gold wholesale -> tombstone clears the markers
    gold.create_or_overwrite(
        spark.createDataFrame([(9, 100)], "k int, sx bigint")
    )
    marker = gold.latest_meta(having="fold_checkpoint")
    assert marker is not None and marker["fold_checkpoint"] is None

    # restarted stream (same checkpoint path, ids back at 0): batch 0
    # must FOLD onto the reset rows, not be dropped as a replay
    fold_partial_batch(b0, 0, gold, ["k"], partial, ckpt)
    assert {r.k: r.sx for r in gold.read(spark).collect()} == {
        1: 10, 2: 5, 9: 100,
    }
    # and the new high-water mark is re-established: a replay is a no-op
    fold_partial_batch(b0, 0, gold, ["k"], partial, ckpt)
    assert {r.k: r.sx for r in gold.read(spark).collect()} == {
        1: 10, 2: 5, 9: 100,
    }
    fold_partial_batch(b1, 1, gold, ["k"], partial, ckpt)
    assert {r.k: r.sx for r in gold.read(spark).collect()} == {
        1: 17, 2: 5, 9: 100,
    }


def test_overwrite_fold_marker_warning_and_preserve(spark, tmp_path):
    """The r14 tombstone regressed rebuild-under-live-stream callers
    SILENTLY (ADVICE r14 medium): tombstoning a table whose latest
    marker names a checkpoint now (a) emits a RuntimeWarning naming the
    escape hatches, and (b) reset_fold_markers=False preserves the
    marker — the overwrite behaves as a maintenance commit w.r.t. fold
    state, so a crash-redelivered batch already baked into the rebuild
    stays dropped as a replay. An explicit marker in meta, or a reset
    of an unmarked table, stays warning-free."""
    import warnings as _w

    from databricks_etl_pipelines_spark.streaming.structured import (
        fold_partial_batch,
    )

    def partial(df):
        return df.groupBy("k").agg(F.sum("x").alias("sx"))

    gold = ManagedTable(str(tmp_path / "gold"))
    ckpt = str(tmp_path / "ckpt")
    b0 = spark.createDataFrame([(1, 10), (2, 5)], "k int, x int")
    b1 = spark.createDataFrame([(1, 7)], "k int, x int")
    fold_partial_batch(b0, 0, gold, ["k"], partial, ckpt)
    fold_partial_batch(b1, 1, gold, ["k"], partial, ckpt)

    # (b) rebuild preserving replay protection: no tombstone, marker
    # survives the overwrite, replayed batch 1 is still a no-op
    rebuilt = spark.createDataFrame([(1, 17), (2, 5)], "k int, sx bigint")
    with _w.catch_warnings():
        _w.simplefilter("error")  # preserve path must NOT warn
        gold.create_or_overwrite(rebuilt, reset_fold_markers=False)
    marker = gold.latest_meta(having="fold_checkpoint")
    assert marker is not None and marker["fold_checkpoint"] is not None
    assert marker["fold_batch_id"] == 1
    fold_partial_batch(b1, 1, gold, ["k"], partial, ckpt)  # redelivery
    assert {r.k: r.sx for r in gold.read(spark).collect()} == {1: 17, 2: 5}

    # (a) default tombstone over the (still live) marker warns
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        gold.create_or_overwrite(
            spark.createDataFrame([(9, 100)], "k int, sx bigint")
        )
    msgs = [w for w in caught if issubclass(w.category, RuntimeWarning)]
    assert len(msgs) == 1 and "reset_fold_markers" in str(msgs[0].message)
    assert gold.latest_meta(having="fold_checkpoint")["fold_checkpoint"] is None

    # explicit marker re-stamp suppresses tombstone AND warning
    with _w.catch_warnings():
        _w.simplefilter("error")
        gold.create_or_overwrite(
            rebuilt, meta={"fold_checkpoint": ckpt, "fold_batch_id": 1}
        )
    assert gold.latest_meta(having="fold_checkpoint")["fold_batch_id"] == 1

    # reset of a table with no live marker stays silent
    fresh = ManagedTable(str(tmp_path / "fresh"))
    with _w.catch_warnings():
        _w.simplefilter("error")
        fresh.create_or_overwrite(b0)
        fresh.create_or_overwrite(b1)
    assert fresh.latest_meta(having="fold_checkpoint")["fold_checkpoint"] is None


def test_incremental_aggregate_validates_fold_names_eagerly(spark, tmp_path):
    """A typo'd fold name must fail AT CALL TIME, before the stream
    starts — the per-batch check alone surfaces it only once a
    non-empty, non-replayed batch arrives (ADVICE r13)."""
    import pytest

    from databricks_etl_pipelines_spark.streaming.structured import (
        incremental_aggregate,
    )

    feed = tmp_path / "feed"
    df = spark.createDataFrame([(1, 10)], "k int, x int")
    df.write.parquet(str(feed))
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(feed))
    )
    with pytest.raises(ValueError, match="unknown fold"):
        incremental_aggregate(
            stream,
            ManagedTable(str(tmp_path / "gold")),
            ["k"],
            lambda b: b.groupBy("k").agg(F.min("x").alias("mn")),
            str(tmp_path / "ckpt"),
            combine={"mn": "minimum"},
        )
    # nothing started, nothing committed
    assert not ManagedTable(str(tmp_path / "gold")).exists()
    assert len(spark.streams.active) == 0


def test_streaming_srm_matches_batch(spark, tmp_path):
    """streaming_srm_check's projection over the incrementally-folded
    min(ts) enrollment state must equal diag_srm_check row-for-row on a
    planted broken-assignment corpus, fed as 3 NON-chronological
    micro-batches (min partials are split-order-independent AND
    idempotent). The plant re-uses the broken-day shape: day 1 balanced
    10/10, day 2 broken 20/5 — the streamed readout must fire the same
    flag. Users also emit LATER events so the min fold genuinely has
    something to discard."""
    import datetime as dt

    from databricks_etl_pipelines_spark.catalog import QUERIES, load_all
    from databricks_etl_pipelines_spark.plans.queries_stats import (
        _srm_enroll_state,
        _srm_project,
    )
    from databricks_etl_pipelines_spark.streaming.structured import (
        await_drained,
        incremental_aggregate,
    )

    load_all()
    rows, eid, uid = [], 0, 0

    def enroll(day, n_a, n_b):
        nonlocal eid, uid
        for parity, n in ((0, n_a), (1, n_b)):
            for _ in range(n):
                uid += 2
                u = uid + parity
                rows.append(
                    (eid, dt.datetime(2024, 1, day, 9), u, "view", 1.0,
                     "{}")
                )
                eid += 1
                # a later event that must NOT move the enrollment day
                rows.append(
                    (eid, dt.datetime(2024, 1, day + 3, 9), u, "click",
                     1.0, "{}")
                )
                eid += 1

    enroll(1, 10, 10)  # balanced
    enroll(2, 20, 5)   # broken
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    df.write.parquet(f"{tmp_path}/events.parquet")
    batch = {
        r.enroll_day: r
        for r in QUERIES["diag_srm_check"](spark, str(tmp_path)).collect()
    }
    assert batch["2024-01-02"].srm_flag == 1  # the plant fires

    # 3 interleaved NON-chronological micro-batches by event_id % 3
    feed = tmp_path / "feed"
    import os
    import time as _time

    os.makedirs(feed)
    base = _time.time()
    for b in range(3):
        sl = df.filter(F.col("event_id") % 3 == b).select(
            "event_id", "ts", "user_id"
        )
        tmpdir = tmp_path / f"slice{b}"
        sl.coalesce(1).write.parquet(str(tmpdir))
        import glob
        import shutil

        part = glob.glob(f"{tmpdir}/part-*.parquet")[0]
        dst = str(feed / f"batch-{b}.parquet")
        shutil.copy(part, dst)
        os.utime(dst, (base + b, base + b))
    stream = (
        spark.readStream.schema("event_id long, ts timestamp, user_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(feed))
    )
    gold = ManagedTable(str(tmp_path / "srm_gold"))
    q = incremental_aggregate(
        stream,
        gold,
        ["user_id"],
        _srm_enroll_state,
        str(tmp_path / "srm_ckpt"),
        combine={"t0": "min"},
    )
    await_drained(q, 300)
    assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) >= 3
    streamed = {
        r.enroll_day: r for r in _srm_project(gold.read(spark)).collect()
    }
    assert set(streamed) == set(batch)
    for day, r in batch.items():
        s = streamed[day]
        assert (
            s.n_control, s.n_treated, s.srm_chi2, s.srm_flag,
            s.overall_chi2,
        ) == (
            r.n_control, r.n_treated, r.srm_chi2, r.srm_flag,
            r.overall_chi2,
        ), day
