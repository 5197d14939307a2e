"""Golden end-to-end medallion pipeline test (SURVEY §5 item 2).

Mirrors the reference README's pipeline-summary row counts
(README.md:20-31) with our deterministic generator: exact layer counts,
quarantine split, 10 cardholders / 500 merchants (same cardinalities the
reference reports), and MERGE replay idempotence.
"""

from __future__ import annotations

import pytest

from databricks_etl_pipelines_spark.plans.medallion import MedallionPipeline
from databricks_etl_pipelines_spark.sources.generator import (
    P_BAD_AMOUNT,
    P_BAD_MCC,
    P_NULL_ID,
    P_SHORT_CARD,
    batch_transactions,
)

N = 5000


def expected_quarantine(n: int) -> int:
    bad = set()
    for p in (P_NULL_ID, P_BAD_AMOUNT, P_SHORT_CARD, P_BAD_MCC):
        bad.update(range(0, n, p))
    return len(bad)


@pytest.fixture(scope="module")
def pipeline(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("medallion"))
    p = MedallionPipeline(spark, root)
    p.ingest_bronze(batch_transactions(spark, N, stamps=True))
    return p


def test_bronze_counts(spark, pipeline):
    assert pipeline.bronze.read(spark).count() == N


def test_silver_split_and_merge(spark, pipeline):
    counts = pipeline.run_silver()
    q = expected_quarantine(N)
    assert counts["quarantined"] == q
    assert counts["silver"] == N - q
    # silver schema: PII gone, enrichment present
    cols = set(pipeline.silver.read(spark).columns)
    assert "card_number" not in cols and "cardholder_name" not in cols
    assert {
        "card_number_masked",
        "cardholder_token",
        "mcc_category",
        "amount_bucket",
        "risk_score_raw",
    } <= cols


def test_silver_replay_idempotent(spark, pipeline):
    before = pipeline.silver.read(spark).count()
    counts = pipeline.run_silver()  # replay the same batch
    assert counts["silver"] == before
    # history shows both merges
    ops = [r.operation for r in pipeline.silver.history(spark).collect()]
    assert ops.count("merge") >= 1


def test_gold_cardinalities(spark, pipeline):
    counts = pipeline.run_gold()
    # name pools give exactly 10 distinct cardholders; brand×number gives 500
    # merchants (same cardinalities as the reference README)
    assert counts["features"] == 10
    merchants = (
        pipeline.gold_merchant.read(spark)
        .select("merchant_name")
        .distinct()
        .count()
    )
    assert merchants == 500
    assert counts["hourly"] > 0


def test_null_rows_route_to_quarantine_not_limbo(spark):
    """Rows where the validation predicate evaluates to NULL (null amount /
    card / mcc with non-null id) must land in quarantine with a non-null
    reason — filter(pred)/filter(~pred) alone loses them from both sides.
    The generator never emits these nulls, so this is crafted directly."""
    from databricks_etl_pipelines_spark.plans.medallion import (
        split_valid_quarantine,
    )
    from databricks_etl_pipelines_spark.sources.generator import MCC_CODES

    mcc = MCC_CODES[0]
    card = "4" * 16
    rows = [
        (None, 10.0, card, mcc),      # null id
        ("t1", None, card, mcc),      # NULL-predicate row: null amount
        ("t2", 5.0, None, mcc),       # NULL-predicate row: null card
        ("t3", 5.0, card, None),      # NULL-predicate row: null mcc
        ("t4", -1.0, card, mcc),      # plain invalid
        ("t5", 5.0, card, mcc),       # valid
    ]
    bronze = spark.createDataFrame(
        rows, "transaction_id string, amount double, card_number string, mcc_code string"
    )
    valid, quarantined = split_valid_quarantine(bronze)
    assert valid.count() == 1
    q = {r.transaction_id: r.quarantine_reason for r in quarantined.collect()}
    assert q == {
        None: "null_transaction_id",
        "t1": "non_positive_amount",
        "t2": "malformed_card_number",
        "t3": "invalid_mcc_code",
        "t4": "non_positive_amount",
    }
    # nothing lost: every bronze row is in exactly one branch
    assert valid.count() + quarantined.count() == len(rows)


def test_time_travel(spark, pipeline):
    v0 = pipeline.silver.read(spark, version=0).count()
    latest = pipeline.silver.read(spark).count()
    assert v0 == latest  # replays were idempotent, so every version agrees


def test_optimize_compaction_and_clustering(spark, tmp_path):
    import glob
    import os

    from pyspark.sql import functions as F

    from databricks_etl_pipelines_spark.sources.managed_table import ManagedTable

    mt = ManagedTable(str(tmp_path / "t"))
    df = spark.range(0, 10000).select(
        F.col("id"),
        (F.col("id") % 7).alias("k"),
        (F.col("id") * 3 % 100).alias("v"),
    )
    v0 = mt.create_or_overwrite(df.repartition(16))  # simulate many small files
    # the written layout, not the read splits: on few cores Spark packs
    # small files into fewer splits than files
    written = glob.glob(os.path.join(str(tmp_path / "t"), f"_v{v0}", "part-*"))
    assert len(written) >= 16

    mt.optimize(spark, target_partitions=2)
    compacted = mt.read(spark)
    assert compacted.count() == 10000
    assert compacted.rdd.getNumPartitions() <= 2

    v = mt.optimize(spark, cluster_by=["k", "v"], target_partitions=8)
    clustered = mt.read(spark)
    assert clustered.count() == 10000
    ops = [r.operation for r in mt.history(spark).collect()]
    assert "optimize compact" in ops
    assert any(op.startswith("optimize zorder") for op in ops)
    # interleaved z-order narrows per-file ranges on BOTH dimensions —
    # linear clustering would give the trailing key its full ~99 range in
    # every file. Margins are loose because range-exchange boundary
    # sampling is seeded randomly per run (observed dk<=5, vspan<=49 over
    # trials; full domains are 7 and ~99).
    files = glob.glob(os.path.join(str(tmp_path / "t"), f"_v{v}", "part-*"))
    assert len(files) >= 4
    dks, vspans = [], []
    for f in files:
        stats = (
            spark.read.parquet(f)
            .agg(
                F.countDistinct("k").alias("dk"),
                (F.max("v") - F.min("v")).alias("vspan"),
            )
            .first()
        )
        dks.append(stats.dk)
        vspans.append(stats.vspan)
    assert max(dks) <= 6              # every file < full k domain
    assert max(vspans) <= 70          # every file < full v domain
    assert sum(vspans) / len(vspans) <= 50  # and typically ~half or less


def test_bucket_pruned_merge_rewrites_only_touched_buckets(spark, tmp_path):
    """MERGE on a bucket_by table: result identical to a full merge, only
    source-key buckets rewritten, untouched buckets carried over as
    hardlinks — byte-identical files across versions (the Delta-style
    file-pruned rewrite, ManagedTable analog)."""
    import glob
    import os

    from pyspark.sql import functions as F

    from databricks_etl_pipelines_spark.sources.managed_table import (
        ManagedTable,
        _read_log,
    )

    mt = ManagedTable(str(tmp_path / "b"))
    df = spark.range(0, 1000).select(F.col("id"), (F.col("id") * 2).alias("v"))
    mt.create_or_overwrite(df, bucket_by=["id"], n_buckets=8)

    src = spark.createDataFrame([(5, 999), (2000, 1)], "id long, v long")
    mt.merge_upsert(spark, src, ["id"])

    back = mt.read(spark)
    assert back.count() == 1001  # 1000 rows + 1 insert
    assert back.filter("id = 5").head().v == 999
    assert back.filter("id = 2000").head().v == 1
    assert "__bucket" not in back.columns

    log = _read_log(mt.root)
    assert log[-1]["operation"] == "merge"
    assert log[-1]["buckets_rewritten"] <= 2  # at most one bucket per key

    # every untouched bucket dir is carried over byte-identically (hardlink
    # ⇒ same inode); at least 6 of 8 buckets must be untouched
    v0, v1 = os.path.join(mt.root, "_v0"), os.path.join(mt.root, "_v1")
    untouched = 0
    for bdir in glob.glob(os.path.join(v0, "__bucket=*")):
        new_bdir = os.path.join(v1, os.path.basename(bdir))
        old_files = sorted(glob.glob(os.path.join(bdir, "part-*")))
        new_files = sorted(glob.glob(os.path.join(new_bdir, "part-*")))
        if new_files and [os.path.basename(f) for f in old_files] == [
            os.path.basename(f) for f in new_files
        ] and all(
            os.path.samefile(a, b) for a, b in zip(old_files, new_files)
        ):
            untouched += 1
    assert untouched >= 6


def test_bucket_pruned_append(spark, tmp_path):
    """Append on a bucketed table rewrites only buckets receiving rows;
    the rest carry over as hardlinks."""
    import glob
    import os

    from pyspark.sql import functions as F

    from databricks_etl_pipelines_spark.sources.managed_table import (
        ManagedTable,
        _read_log,
    )

    mt = ManagedTable(str(tmp_path / "a"))
    df = spark.range(0, 1000).select(F.col("id"), (F.col("id") + 7).alias("v"))
    mt.create_or_overwrite(df, bucket_by=["id"], n_buckets=8)
    mt.append(spark.createDataFrame([(5000, 1)], "id long, v long"))

    back = mt.read(spark)
    assert back.count() == 1001
    assert back.filter("id = 5000").count() == 1
    log = _read_log(mt.root)
    assert log[-1]["operation"] == "append"
    assert log[-1]["buckets_rewritten"] == 1
    v0, v1 = os.path.join(mt.root, "_v0"), os.path.join(mt.root, "_v1")
    linked = sum(
        1
        for bdir in glob.glob(os.path.join(v0, "__bucket=*"))
        for f in glob.glob(os.path.join(bdir, "part-*"))
        if os.path.exists(
            os.path.join(v1, os.path.basename(bdir), os.path.basename(f))
        )
        and os.path.samefile(
            f, os.path.join(v1, os.path.basename(bdir), os.path.basename(f))
        )
    )
    assert linked >= 7  # at least 7 of 8 buckets carried over untouched


def test_partitioned_write_prunes(spark, tmp_path):
    from pyspark.sql import functions as F

    from databricks_etl_pipelines_spark.sources.managed_table import ManagedTable

    mt = ManagedTable(str(tmp_path / "p"))
    df = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") % 5).alias("bucket")
    )
    mt.create_or_overwrite(df, partition_by=["bucket"])
    back = mt.read(spark)
    assert back.count() == 1000
    pruned = back.filter(F.col("bucket") == 3)
    assert pruned.count() == 200
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(bucket" in plan or "bucket#" in plan


def test_gold_approx_distinct_within_tolerance(spark):
    """The 100 TB swap: sketched distincts track exact within HLL++ rsd,
    and everything else in the row is identical."""
    from databricks_etl_pipelines_spark.plans.medallion import (
        gold_merchant_risk_summary,
        silver_transform,
    )
    from databricks_etl_pipelines_spark.sources.generator import batch_transactions

    silver, _ = silver_transform(batch_transactions(spark, 5000))
    silver = silver.cache()
    exact = gold_merchant_risk_summary(silver, exact_distinct=True)
    approx = gold_merchant_risk_summary(silver, exact_distinct=False)
    key = ["merchant_name", "mcc_category", "merchant_state"]
    joined = exact.select(*key, "unique_cardholders", "txn_count").join(
        approx.selectExpr(*key, "unique_cardholders AS approx_u"), key
    ).collect()
    silver.unpersist()
    assert len(joined) > 0
    for r in joined:
        # 10 distinct cardholders max per group — sketch must be within 20%
        assert abs(r.approx_u - r.unique_cardholders) <= max(
            1, 0.2 * r.unique_cardholders
        )


def test_csv_json_source_roundtrip(spark, sf_dir, tmp_path):
    """Format coverage beyond parquet: gold output written to CSV and JSON
    reads back value-identical with an explicit schema (no inference in the
    engine path — schema-on-read is pinned, SURVEY §1)."""
    from pyspark.sql import functions as F

    from databricks_etl_pipelines_spark.sources import table

    src = (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )
    expected = {(r.o_orderstatus, r.n, r.total) for r in src.collect()}

    csv_dir, json_dir = str(tmp_path / "csv"), str(tmp_path / "json")
    src.write.mode("overwrite").option("header", True).csv(csv_dir)
    src.write.mode("overwrite").json(json_dir)

    schema = "o_orderstatus string, n bigint, total double"
    got_csv = {
        (r.o_orderstatus, r.n, r.total)
        for r in spark.read.schema(schema).option("header", True).csv(csv_dir).collect()
    }
    got_json = {
        (r.o_orderstatus, r.n, r.total)
        for r in spark.read.schema(schema).json(json_dir).collect()
    }
    assert got_csv == expected
    assert got_json == expected


def test_orc_source_roundtrip(spark, sf_dir, tmp_path):
    """ORC format coverage: write/read value-identical with explicit schema."""
    from pyspark.sql import functions as F

    from databricks_etl_pipelines_spark.sources import table

    src = table(spark, sf_dir, "nation")
    expected = {(r.n_nationkey, r.n_name) for r in src.collect()}
    orc_dir = str(tmp_path / "orc")
    src.write.mode("overwrite").orc(orc_dir)
    back = spark.read.orc(orc_dir)
    assert {(r.n_nationkey, r.n_name) for r in back.collect()} == expected
    # predicate pushdown works on ORC scans too
    plan = back.filter(F.col("n_nationkey") > 10)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "PushedFilters: [IsNotNull(n_nationkey), GreaterThan(n_nationkey,10)]" in plan


def test_sql_command_surface(spark, tmp_path):
    """EP4 parity: DESCRIBE HISTORY / OPTIMIZE ZORDER / VERSION AS OF as
    actual SQL strings over a ManagedTable path."""
    from pyspark.sql import functions as F

    from databricks_etl_pipelines_spark.sources.managed_table import ManagedTable
    from databricks_etl_pipelines_spark.sql import run_command

    root = str(tmp_path / "cmd")
    mt = ManagedTable(root)
    df = spark.range(0, 500).select(
        F.col("id"), (F.col("id") % 5).alias("k"), (F.col("id") % 9).alias("v")
    )
    mt.create_or_overwrite(df)
    mt.append(spark.range(500, 600).select(
        F.col("id"), (F.col("id") % 5).alias("k"), (F.col("id") % 9).alias("v")
    ))

    hist = run_command(spark, f"DESCRIBE HISTORY '{root}'")
    assert [r.operation for r in hist.collect()] == ["overwrite", "append"]

    out = run_command(spark, f"OPTIMIZE '{root}' ZORDER BY (k, v)").first()
    assert out.new_version == 2
    ops = [r.operation for r in mt.history(spark).collect()]
    assert ops[-1].startswith("optimize zorder")

    v0 = run_command(spark, f"SELECT * FROM '{root}' VERSION AS OF 0")
    assert v0.count() == 500
    assert run_command(spark, "SELECT 41 + 1 AS x").first().x == 42  # fallthrough

    out = run_command(spark, f"DELETE FROM '{root}' WHERE id >= 550").first()
    assert out.new_version == 3
    assert mt.read(spark).count() == 550
    assert mt.history(spark).tail(1)[0].operation == "delete"

    out = run_command(spark, f"VACUUM '{root}' RETAIN 2 VERSIONS").first()
    assert out.versions_vacuumed == 2  # v0 + v1 dropped, v2/v3 retained
    assert mt.read(spark).count() == 550
    assert mt.read(spark, version=2).count() == 600

    # APPLY CHANGES INTO: the DLT CDC verb over cdc_apply
    cdc_root = str(tmp_path / "cdc")
    spark.createDataFrame(
        [
            (1, "2024-01-01", 1, "U", "a"),
            (1, "2024-01-03", 3, "D", None),
            (2, "2024-01-02", 2, "U", "b"),
        ],
        "k int, ts string, lsn int, op string, v string",
    ).withColumn("ts", F.col("ts").cast("timestamp")).createOrReplaceTempView(
        "cdc_feed"
    )
    live = run_command(
        spark,
        f"APPLY CHANGES INTO '{cdc_root}' FROM cdc_feed KEYS (k) "
        "SEQUENCE BY ts, lsn APPLY AS DELETE WHEN op = 'D'",
    )
    rows = {r.k: r.v for r in live.collect()}
    assert rows == {2: "b"}  # k=1 tombstoned by the later delete

    # STORED AS SCD TYPE 2: same verb, history-keeping fold
    scd2_root = str(tmp_path / "scd2cmd")
    spark.createDataFrame(
        [
            (1, "2024-01-01", 1, "a"),
            (1, "2024-01-02", 2, "b"),
            (2, "2024-01-01", 3, "x"),
        ],
        "k int, ts string, lsn int, v string",
    ).withColumn("ts", F.col("ts").cast("timestamp")).createOrReplaceTempView(
        "scd2_feed"
    )
    hist = run_command(
        spark,
        f"APPLY CHANGES INTO '{scd2_root}' FROM scd2_feed KEYS (k) "
        "SEQUENCE BY ts, lsn STORED AS SCD TYPE 2",
    )
    got = {
        (r.k, r.scd_version): (r.v, r.is_current) for r in hist.collect()
    }
    assert got == {
        (1, 1): ("a", False),
        (1, 2): ("b", True),
        (2, 1): ("x", True),
    }
    # SCD TYPE 2 with deletes: the delete closes k=1's open interval at
    # the delete timestamp and leaves the key with NO current row
    scd2d_root = str(tmp_path / "scd2del")
    spark.createDataFrame(
        [
            (1, "2024-01-01", 1, "U", "a"),
            (1, "2024-01-04", 4, "D", None),
            (2, "2024-01-02", 2, "U", "x"),
        ],
        "k int, ts string, lsn int, op string, v string",
    ).withColumn("ts", F.col("ts").cast("timestamp")).createOrReplaceTempView(
        "scd2_del_feed"
    )
    hist = run_command(
        spark,
        f"APPLY CHANGES INTO '{scd2d_root}' FROM scd2_del_feed KEYS (k) "
        "SEQUENCE BY ts, lsn APPLY AS DELETE WHEN op = 'D' "
        "STORED AS SCD TYPE 2",
    )
    rows = {(r.k, r.scd_version): r for r in hist.collect()}
    assert set(rows) == {(1, 1), (2, 1)}  # the delete run itself is gone
    closed = rows[(1, 1)]
    assert not closed.is_current
    assert closed.effective_to.day == 4   # closed AT the delete ts
    assert rows[(2, 1)].is_current


def test_apply_changes_single_sequence_column(spark, tmp_path):
    """DLT accepts a single-column SEQUENCE BY; the verb must too (the ts
    doubles as its own tiebreak) instead of falling through to spark.sql
    and dying with an unrelated parse error."""
    from pyspark.sql import functions as F

    from databricks_etl_pipelines_spark.sql import run_command

    root = str(tmp_path / "cdc1col")
    spark.createDataFrame(
        [
            (1, "2024-01-01", "U", "a"),
            (1, "2024-01-03", "D", None),
            (2, "2024-01-02", "U", "b"),
        ],
        "k int, ts string, op string, v string",
    ).withColumn("ts", F.col("ts").cast("timestamp")).createOrReplaceTempView(
        "cdc_feed_1col"
    )
    live = run_command(
        spark,
        f"APPLY CHANGES INTO '{root}' FROM cdc_feed_1col KEYS (k) "
        "SEQUENCE BY ts APPLY AS DELETE WHEN op = 'D'",
    )
    assert {r.k: r.v for r in live.collect()} == {2: "b"}


def test_change_feed_bucket_pruned(spark, tmp_path):
    """CDF analog: changes between versions of a bucketed table come from
    ONLY the buckets whose files differ; hardlink-identical buckets are
    skipped without reading. An update shows as delete+insert."""
    from pyspark.sql import functions as F

    from databricks_etl_pipelines_spark.sources.managed_table import (
        ChangeFeed,
        ManagedTable,
    )

    mt = ManagedTable(str(tmp_path / "cdf"))
    df = spark.range(0, 1000).select(F.col("id"), (F.col("id") * 2).alias("v"))
    mt.create_or_overwrite(df, bucket_by=["id"], n_buckets=8)
    src = spark.createDataFrame([(5, 999), (2000, 1)], "id long, v long")
    mt.merge_upsert(spark, src, ["id"])

    feed = ChangeFeed(mt)
    changed = feed.changed_buckets(0, 1)
    assert changed is not None and 1 <= len(changed) <= 2  # of 8 buckets

    rows = {
        (r.id, r.v, r._change_type)
        for r in feed.read_changes(spark, 0, 1).collect()
    }
    assert rows == {
        (5, 999, "insert"),   # new version of the updated row
        (5, 10, "delete"),    # old version of the updated row
        (2000, 1, "insert"),  # fresh insert
    }

    # unbucketed fallback: same answer, full-table diff
    mt2 = ManagedTable(str(tmp_path / "flat"))
    mt2.create_or_overwrite(df)
    mt2.merge_upsert(spark, src, ["id"])
    feed2 = ChangeFeed(mt2)
    assert feed2.changed_buckets(0, 1) is None
    rows2 = {
        (r.id, r.v, r._change_type)
        for r in feed2.read_changes(spark, 0, 1).collect()
    }
    assert rows2 == rows


def test_dynamic_partition_pruning_via_dim_join(spark, sf_dir, tmp_path):
    """At 100 TB the fact side of a star join must not scan every date
    partition when the dim filter implies only a few: Spark's dynamic
    partition pruning injects the dim's date set into the fact scan's
    PartitionFilters at runtime. Assert the plan carries the DPP subquery
    and the result matches an explicit-predicate run."""
    from pyspark.sql import functions as F

    from databricks_etl_pipelines_spark.sources import table

    events = table(spark, sf_dir, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    fact_path = str(tmp_path / "events_by_date")
    # partition-aligned write: one dir per date, one file per dir
    events.repartition("event_date").write.partitionBy(
        "event_date"
    ).parquet(fact_path)
    fact = spark.read.parquet(fact_path)

    dim = events.select("event_date").distinct().withColumn(
        "is_hot", F.dayofmonth("event_date") <= 3
    )
    joined = fact.join(dim.filter("is_hot"), "event_date").groupBy(
        "event_date"
    ).agg(F.count("*").alias("n"))

    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()

    got = {(str(r.event_date), r.n) for r in joined.collect()}
    expected = {
        (str(r.event_date), r.n)
        for r in events.filter(F.dayofmonth("event_date") <= 3)
        .groupBy("event_date")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == expected and len(got) > 0


def test_bucket_pruned_delete_keys_and_delete_where_semantics(spark, tmp_path):
    """delete_keys on a bucketed table: victims gone, survivors intact,
    only victim buckets rewritten (others hardlink-carried), history logs
    op=delete; prior version still serves the erased rows (time travel).
    delete_where: a NULL-evaluating predicate keeps the row (SQL DELETE
    three-valued semantics)."""
    import glob
    import os

    from pyspark.sql import functions as F

    from databricks_etl_pipelines_spark.sources.managed_table import (
        ManagedTable,
        _read_log,
    )

    mt = ManagedTable(str(tmp_path / "g"))
    df = spark.range(0, 1000).select(F.col("id"), (F.col("id") % 7).alias("v"))
    mt.create_or_overwrite(df, bucket_by=["id"], n_buckets=8)

    victims = spark.createDataFrame([(5,), (700,)], "id long")
    mt.delete_keys(spark, victims, ["id"])

    back = mt.read(spark)
    assert back.count() == 998
    assert back.filter("id in (5, 700)").count() == 0
    assert mt.read(spark, version=0).count() == 1000  # audit via time travel

    log = _read_log(mt.root)
    assert log[-1]["operation"] == "delete"
    assert log[-1]["buckets_rewritten"] <= 2
    v0, v1 = os.path.join(mt.root, "_v0"), os.path.join(mt.root, "_v1")
    carried = 0
    for bdir in glob.glob(os.path.join(v0, "__bucket=*")):
        new = os.path.join(v1, os.path.basename(bdir))
        old_files = sorted(os.path.basename(f) for f in
                           glob.glob(os.path.join(bdir, "part-*")))
        new_files = sorted(os.path.basename(f) for f in
                           glob.glob(os.path.join(new, "part-*")))
        if new_files and old_files == new_files and all(
            os.stat(os.path.join(bdir, f)).st_ino
            == os.stat(os.path.join(new, f)).st_ino
            for f in old_files
        ):
            carried += 1
    assert carried >= 6  # at most 2 of 8 buckets rewritten

    # delete_where NULL semantics: condition NULL for id=0 row must KEEP it
    mt2 = ManagedTable(str(tmp_path / "w"))
    rows = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 99.0)], "id long, x double"
    )
    mt2.create_or_overwrite(rows)
    mt2.delete_where(spark, F.col("x") > 50)  # NULL for id=2
    kept = sorted(r.id for r in mt2.read(spark).collect())
    assert kept == [1, 2]


def test_vacuum_drops_old_versions_keeps_hardlinked_data(spark, tmp_path):
    """VACUUM analog: old version dirs go away (time travel to them raises,
    deleted rows become unrecoverable), but the LATEST version — built
    largely from files hardlinked out of those old dirs — must read back
    byte-perfect, because links share inodes rather than copy bytes."""
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F

    from databricks_etl_pipelines_spark.sources.managed_table import (
        ManagedTable,
    )

    mt = ManagedTable(str(tmp_path / "v"))
    df = spark.range(0, 800).select(F.col("id"), (F.col("id") * 3).alias("v"))
    mt.create_or_overwrite(df, bucket_by=["id"], n_buckets=8)            # v0
    mt.merge_upsert(
        spark, spark.createDataFrame([(5, -1)], "id long, v long"), ["id"]
    )                                                                     # v1
    mt.delete_keys(
        spark, spark.createDataFrame([(700,)], "id long"), ["id"]
    )                                                                     # v2

    assert mt.read(spark, version=0).count() == 800  # audit still possible
    dropped = mt.vacuum(keep_last=1)
    assert dropped == [0, 1]
    assert not os.path.isdir(os.path.join(mt.root, "_v0"))

    # latest version intact: v2's untouched buckets are hardlinks whose
    # source dirs were just removed — inodes must survive
    back = mt.read(spark)
    assert back.count() == 799
    assert back.filter("id = 5").head().v == -1
    assert back.filter("id = 700").count() == 0

    with _pytest.raises(FileNotFoundError, match="vacuumed"):
        mt.read(spark, version=0)
    # idempotent: nothing left to vacuum
    assert mt.vacuum(keep_last=1) == []


def test_mismatched_key_delete_and_merge_preserve_bucket_layout(spark, tmp_path):
    """A delete_keys/merge_upsert whose keys differ from the bucket spec
    must rewrite the table but PRESERVE the bucket layout: bucket_spec()
    still reports the original spec afterwards, and a subsequent
    spec-keyed delete is bucket-pruned again (buckets_rewritten logged).
    Regression: the fallback used to commit without bucket metadata,
    silently degrading every later operation to full-table rewrites."""
    from pyspark.sql import functions as F

    from databricks_etl_pipelines_spark.sources.managed_table import (
        ManagedTable,
        _read_log,
    )

    mt = ManagedTable(str(tmp_path / "layout"))
    df = spark.range(0, 500).select(
        F.col("id"), (F.col("id") % 9).alias("grp"), (F.col("id") * 2).alias("v")
    )
    mt.create_or_overwrite(df, bucket_by=["id"], n_buckets=8)

    # delete by a NON-spec key (grp, not id) -> full rewrite, layout kept
    mt.delete_keys(
        spark, spark.createDataFrame([(3,)], "grp long"), ["grp"]
    )
    assert mt.bucket_spec() == (["id"], 8)
    assert mt.read(spark).filter("grp = 3").count() == 0

    # merge by a NON-spec key -> full rewrite, layout kept
    mt.merge_upsert(
        spark,
        spark.createDataFrame([(0, 0, -5)], "id long, grp long, v long"),
        ["grp"],
    )
    assert mt.bucket_spec() == (["id"], 8)

    # the layout surviving means a spec-keyed delete is pruned again
    mt.delete_keys(spark, spark.createDataFrame([(7,)], "id long"), ["id"])
    log = _read_log(mt.root)
    assert log[-1]["operation"] == "delete"
    assert log[-1]["buckets_rewritten"] <= 1
    assert mt.read(spark).filter("id = 7").count() == 0


def test_type_drift_fails_fast(spark, tmp_path):
    """A same-name TYPE change (int → string) must raise a targeted error
    from append AND merge_upsert — it slips past the name-set drift gate
    and would otherwise surface as a confusing union/parquet failure or a
    silent coercion."""
    from pyspark.sql import functions as F

    from databricks_etl_pipelines_spark.sources.managed_table import (
        ManagedTable,
    )

    mt = ManagedTable(str(tmp_path / "typed"))
    mt.create_or_overwrite(
        spark.range(3).select("id", F.lit(1).alias("v"))
    )
    retyped = spark.range(3, 5).select(
        "id", F.lit("oops").alias("v")
    )
    with pytest.raises(ValueError, match="type drift.*v.*int.*string"):
        mt.append(retyped)
    with pytest.raises(ValueError, match="type drift.*v"):
        mt.merge_upsert(spark, retyped, ["id"])
    # matching types still append fine
    mt.append(spark.range(3, 5).select("id", F.lit(2).alias("v")))
    assert mt.read(spark).count() == 5

    # nullability is NOT drift: parquet read-back marks nested fields
    # nullable, so re-appending the exact frame that created the table
    # (non-nullable struct field) must succeed
    st = ManagedTable(str(tmp_path / "structed"))
    sdf = spark.range(2).select(
        "id", F.struct(F.lit(1).alias("a")).alias("s")
    )
    st.create_or_overwrite(sdf)
    st.append(sdf)
    assert st.read(spark).count() == 4


def test_append_schema_evolution(spark, tmp_path):
    """Delta mergeSchema parity: widening appends null-fill both sides;
    drift without the flag fails fast; a bucketed table keeps its layout
    through the evolution (later appends prune again)."""
    from pyspark.sql import functions as F

    from databricks_etl_pipelines_spark.sources.managed_table import (
        ManagedTable,
        _read_log,
    )

    plain = ManagedTable(str(tmp_path / "plain"))
    plain.create_or_overwrite(
        spark.range(3).select("id", F.lit("a").alias("v"))
    )
    with pytest.raises(ValueError, match="schema drift"):
        plain.append(
            spark.range(3, 5).select("id", F.lit(1).alias("extra"))
        )
    plain.append(
        spark.range(3, 5).select("id", F.lit(1).alias("extra")),
        merge_schema=True,
    )
    got = plain.read(spark)
    assert set(got.columns) == {"id", "v", "extra"}
    assert got.filter(F.col("extra").isNull()).count() == 3  # old rows
    assert got.filter(F.col("v").isNull()).count() == 2      # new rows

    b = ManagedTable(str(tmp_path / "bucketed"))
    b.create_or_overwrite(
        spark.range(100).select("id", F.lit("x").alias("v")),
        bucket_by=["id"], n_buckets=8,
    )
    b.append(
        spark.range(100, 110).select(
            "id", F.lit("y").alias("v"), F.lit(7).alias("extra")
        ),
        merge_schema=True,
    )
    assert b.bucket_spec() == (["id"], 8)          # layout survives
    assert _read_log(b.root)[-1].get("schema_evolved") is True
    assert b.read(spark).count() == 110
    # post-evolution appends are pruned again
    b.append(spark.range(110, 112).select(
        "id", F.lit("z").alias("v"), F.lit(8).alias("extra")
    ))
    last = _read_log(b.root)[-1]
    assert last["operation"] == "append"
    assert last["buckets_rewritten"] < 8


def test_merge_schema_evolution(spark, tmp_path):
    """Delta MERGE autoMerge parity: widening merges null-fill both
    sides; drift without the flag fails fast; bucketed tables keep
    their layout through the evolution and prune on later merges."""
    from pyspark.sql import functions as F

    from databricks_etl_pipelines_spark.sources.managed_table import (
        ManagedTable,
        _read_log,
    )

    mt = ManagedTable(str(tmp_path / "m"))
    mt.create_or_overwrite(
        spark.range(100).select("id", F.lit("x").alias("v")),
        bucket_by=["id"], n_buckets=8,
    )
    src = spark.createDataFrame([(5, "y", 7), (200, "z", 8)],
                                "id long, v string, extra long")
    with pytest.raises(ValueError, match="schema drift"):
        mt.merge_upsert(spark, src, ["id"])
    mt.merge_upsert(spark, src, ["id"], merge_schema=True)
    got = mt.read(spark)
    assert set(got.columns) == {"id", "v", "extra"}
    assert got.count() == 101
    assert got.filter("id = 5").head().extra == 7
    assert got.filter("id = 6").head().extra is None  # old row null-filled
    assert mt.bucket_spec() == (["id"], 8)
    assert _read_log(mt.root)[-1].get("schema_evolved") is True
    # post-evolution merges prune again
    mt.merge_upsert(
        spark,
        spark.createDataFrame([(7, "q", 9)], "id long, v string, extra long"),
        ["id"],
    )
    last = _read_log(mt.root)[-1]
    assert last["operation"] == "merge" and last["buckets_rewritten"] == 1


def _write_once(spark, mt, path):
    """Run one ManagedTable write path on a 200-row table bucketed by
    ``id`` into 8 buckets (plain for ``overwrite_plain``)."""
    from pyspark.sql import functions as F

    df = spark.range(0, 200).select(
        "id", (F.col("id") % 9).alias("grp"), (F.col("id") * 2).alias("v")
    )
    if path == "overwrite_plain":
        return mt.create_or_overwrite(df)
    mt.create_or_overwrite(df, bucket_by=["id"], n_buckets=8)
    if path == "overwrite_bucketed":
        return mt.create_or_overwrite(df, bucket_by=["id"], n_buckets=8)
    one = spark.createDataFrame([(5, 5, -1)], "id long, grp long, v long")
    if path == "append_pruned":
        return mt.append(one.withColumn("id", F.lit(5000).cast("long")))
    if path == "append_drifted":
        return mt.append(one.withColumn("extra", F.lit(1)), merge_schema=True)
    if path == "merge_pruned":
        mt.merge_upsert(spark, one, ["id"])
        return mt.latest_version()
    if path == "merge_non_key":
        mt.merge_upsert(spark, one, ["grp"])
        return mt.latest_version()
    if path == "delete_where_bucketed":
        return mt.delete_where(spark, F.col("v") > 300)
    if path == "delete_keys_pruned":
        return mt.delete_keys(spark, one.select("id"), ["id"])
    assert path == "delete_keys_non_key"
    return mt.delete_keys(spark, one.select("grp"), ["grp"])


# path -> (operation, bucketed, buckets_rewritten, schema_evolved); None
# means the key is absent from the entry. Full bucketed rewrites carry no
# buckets_rewritten: perfbench's buckets_rewritten_share counts only the
# pruned commits.
_MANIFEST_CASES = {
    "overwrite_plain": ("overwrite", False, None, None),
    "overwrite_bucketed": ("overwrite", True, None, None),
    "append_pruned": ("append", True, 1, None),
    "append_drifted": ("append", True, None, True),
    "merge_pruned": ("merge", True, 1, None),
    "merge_non_key": ("merge", True, None, None),
    "delete_where_bucketed": ("delete", True, None, None),
    "delete_keys_pruned": ("delete", True, 1, None),
    "delete_keys_non_key": ("delete", True, None, None),
}


@pytest.mark.parametrize("path", sorted(_MANIFEST_CASES))
def test_manifest_entry_per_write_path(spark, tmp_path, path):
    """Each write path's ``_log.json`` entry: its exact key set, its
    operation and its bucket stamps. A bucketed table keeps its layout
    (bucket stamps and ``__bucket=`` dirs) through every full rewrite,
    ``delete_where`` included."""
    import glob
    import os

    from databricks_etl_pipelines_spark.sources.managed_table import (
        ManagedTable,
        _read_log,
    )

    operation, bucketed, rewritten, evolved = _MANIFEST_CASES[path]
    mt = ManagedTable(str(tmp_path / path))
    v = _write_once(spark, mt, path)
    entry = _read_log(mt.root)[-1]
    assert entry["version"] == v

    want = {"version", "operation", "timestamp", "schema"}
    if bucketed:
        want |= {"bucket_keys", "n_buckets"}
    if rewritten is not None:
        want.add("buckets_rewritten")
    if evolved is not None:
        want.add("schema_evolved")
    assert set(entry) == want
    assert entry["operation"] == operation
    assert entry.get("bucket_keys") == (["id"] if bucketed else None)
    assert entry.get("n_buckets") == (8 if bucketed else None)
    assert entry.get("buckets_rewritten") == rewritten
    assert entry.get("schema_evolved") == evolved

    bucket_dirs = glob.glob(os.path.join(mt.root, f"_v{v}", "__bucket=*"))
    assert mt.bucket_spec() == ((["id"], 8) if bucketed else None)
    assert (len(bucket_dirs) == 8) if bucketed else not bucket_dirs


def test_pipeline_counts_equal_table_reads(spark, tmp_path):
    """``run_silver`` and ``run_gold`` count from the tables' footers:
    their counts equal the tables' reads, and ``quarantined`` is the
    rows this run appended, on a first run and on a replay."""
    p = MedallionPipeline(spark, str(tmp_path / "m"))
    p.ingest_bronze(batch_transactions(spark, 400, stamps=True))
    for run in (0, 1):
        counts = p.run_silver()
        assert counts["silver"] == p.silver.read(spark).count()
        quarantined = p.quarantine.read(spark).count()
        if run:
            quarantined -= p.quarantine.read(spark, version=0).count()
        assert counts["quarantined"] == quarantined == expected_quarantine(400)
    counts = p.run_gold()
    assert counts == {
        "merchant": p.gold_merchant.read(spark).count(),
        "features": p.gold_features.read(spark).count(),
        "hourly": p.gold_hourly.read(spark).count(),
    }


def test_zorder_value_runs_one_quantile_job(spark, monkeypatch, jobs_in):
    """``_zorder_value`` sketches every cluster column in one
    approxQuantile call, which runs the jobs of a one-column call, and
    whose bounds equal one call per column."""
    from pyspark.sql import functions as F

    from databricks_etl_pipelines_spark.sources.managed_table import _zorder_value

    df = spark.range(0, 3000).select(
        (F.col("id") % 7).alias("k"),
        F.date_add(F.lit("2024-01-01").cast("date"), (F.col("id") % 50).cast("int")).alias("d"),
        F.when(F.col("id") % 11 != 0, F.col("id") * 3 % 100 / 7.0).alias("x"),
    )
    cols = ["k", "d", "x"]
    qs = [(i + 1) / 256 for i in range(255)]

    calls = []
    frame = type(df)
    real = frame.approxQuantile

    def spy(self, col, probabilities, relative_error):
        out = real(self, col, probabilities, relative_error)
        calls.append(out)
        return out

    monkeypatch.setattr(frame, "approxQuantile", spy)
    _, zorder_jobs = jobs_in("zorder-quantiles", lambda: _zorder_value(df, cols))
    monkeypatch.undo()
    assert len(calls) == 1
    for c, got in zip(cols, calls[0]):
        x = F.col(c).cast("timestamp") if c == "d" else F.col(c)
        one = df.select(x.cast("double").alias("__zq"))
        want, one_jobs = jobs_in(
            f"quantiles-{c}", lambda: one.approxQuantile("__zq", qs, 0.001)
        )
        assert want == got and zorder_jobs == one_jobs
