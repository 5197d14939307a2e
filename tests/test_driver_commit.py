"""Differential tests: small ``ManagedTable`` commits on the driver against
the Spark path, forced in turn by setting both caps,
``managed_table.CAP_ROWS`` and ``local_probe.LOCAL_PROBE_MAX_BYTES``, to 0
or to a huge value.

Both paths must give the same ``read()`` schema, the same rows (doubles
compared by ``float.hex``) and the same manifest entries apart from the
timestamp. A version Spark wrote holds a ``_SUCCESS`` marker and one the
driver wrote does not, which tells the tests which path ran.
"""

from __future__ import annotations

import datetime
import decimal
import glob
import os
import shutil
import uuid

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F

from databricks_etl_pipelines_spark.operators import local_probe
from databricks_etl_pipelines_spark.sources import managed_table
from databricks_etl_pipelines_spark.sources.managed_table import (
    ChangeFeed,
    ManagedTable,
    _link_tree,
    _read_log,
)

# CAP_ROWS goes into Spark's int LIMIT, so its huge value is 2^30
_DRIVER = {"CAP_ROWS": 1 << 30, "LOCAL_PROBE_MAX_BYTES": 1 << 62}
_SPARK = {"CAP_ROWS": 0, "LOCAL_PROBE_MAX_BYTES": 0}


def _caps(mp, caps):
    mp.setattr(managed_table, "CAP_ROWS", caps["CAP_ROWS"])
    mp.setattr(local_probe, "LOCAL_PROBE_MAX_BYTES", caps["LOCAL_PROBE_MAX_BYTES"])


def _spark_wrote(mt: ManagedTable) -> bool:
    return os.path.exists(
        os.path.join(mt._version_dir(mt.latest_version()), "_SUCCESS")
    )


def _exact(rows):
    """Rows as sortable tuples, every double as its hex form: ``==`` on
    floats would let 0.0 equal -0.0 and never match NaN."""
    return sorted(
        tuple(repr(v.hex() if isinstance(v, float) else v) for v in r)
        for r in rows
    )


def _entries(mt: ManagedTable):
    """Manifest entries without their timestamps, each idempotency key cut
    to its batch id: every run keys by its own stream id."""
    return [
        {k: v[1] if k == "txn" else v for k, v in e.items() if k != "timestamp"}
        for e in _read_log(mt.root)
    ]


def _state(spark, mt: ManagedTable):
    df = mt.read(spark)
    return df.schema, _exact(df.collect()), _entries(mt)


SCHEMA = (
    "k long, b boolean, y byte, sh short, i int, f float, d double, "
    "dec decimal(12,3), s string, bi binary, dt date, ts timestamp"
)
# the base rows' keys; the sources reuse some of them and add new ones
BASE_KEYS = list(range(16))

_DAY = datetime.date(1900, 1, 1)
_T0 = datetime.datetime(1500, 1, 1)


def _value_row(k, draw_vals):
    b, y, i, f, dec, s, day, us = draw_vals
    return (
        k,
        b,
        y,
        None if y is None else y * 100,
        i,
        f,
        None if f is None else f * 3,
        None if dec is None else decimal.Decimal(dec).scaleb(-3),
        s,
        None if s is None else s.encode(),
        None if day is None else _DAY + datetime.timedelta(days=day),
        None if us is None else _T0 + datetime.timedelta(microseconds=us),
    )


_VALS = st.tuples(
    st.none() | st.booleans(),
    st.none() | st.integers(-128, 127),
    st.none() | st.integers(-(2**31), 2**31 - 1),
    st.none() | st.sampled_from([0.0, -0.0, 1.5, 0.1, float("nan"), float("inf")]),
    st.none() | st.integers(-(10**11), 10**11),
    st.none() | st.sampled_from(["", "a", "bee", "ünï"]),
    st.none() | st.integers(0, 73_000),
    # 1500 to 2600: before 1970 and past the nanosecond range
    st.none() | st.integers(0, 35 * 10**15),
)
_ROWS = st.lists(
    st.tuples(st.none() | st.integers(0, 40), _VALS), min_size=1, max_size=6
)
_OPS = st.lists(
    st.tuples(
        st.sampled_from(["merge", "append", "overwrite"]), _ROWS, st.booleans()
    ),
    min_size=1,
    max_size=3,
)


def _frame(spark, rows, reorder):
    df = spark.createDataFrame([_value_row(k, v) for k, v in rows], SCHEMA)
    return df.select(*reversed(df.columns)) if reorder else df


def _source(df, bucketed, arrow):
    """``df``, or with ``arrow`` its Arrow table, carrying the bucket column
    a bucketed table's driver path needs."""
    if not arrow:
        return df
    if bucketed:
        df = df.withColumn(
            managed_table.BUCKET_COL, managed_table._bucket_expr(["k"], 4)
        )
    return df.toArrow()


def _run_sequence(spark, root, bucketed, base, ops, caps, arrow=False):
    mt = ManagedTable(root)
    layout = {"bucket_by": ["k"], "n_buckets": 4} if bucketed else {}
    paths = []
    with pytest.MonkeyPatch.context() as mp:
        _caps(mp, caps)
        mt.create_or_overwrite(_frame(spark, base, False), **layout)
        for op, rows, reorder in ops:
            df = _frame(spark, rows, reorder)
            if op == "merge":
                try:
                    mt.merge_upsert(spark, _source(df, bucketed, arrow), ["k"])
                except ValueError as e:
                    assert "appears more than once" in str(e)
                    paths.append((op, None))
                    continue
            elif op == "append":
                mt.append(_source(df, bucketed, arrow))
            else:
                mt.create_or_overwrite(_frame(spark, base + rows, reorder), **layout)
            paths.append((op, _spark_wrote(mt)))
        return _state(spark, mt), paths


_NULLS = (None,) * 8


@settings(max_examples=5, deadline=None)
@given(st.booleans(), st.lists(_VALS, min_size=16, max_size=16), _OPS)
# a pruned merge of a source in another column order, then an append: the
# merge must keep the table's column order, or Spark reads the mixed
# version's order from whichever file it lists first
@example(
    True,
    [_NULLS] * 16,
    [("merge", [(2, _NULLS)], True), ("append", [(None, _NULLS)], False)],
)
# a key repeated in a pruned merge's source: both paths refuse the merge
@example(
    True,
    [_NULLS] * 16,
    [("merge", [(2, _NULLS), (2, _NULLS)], False), ("merge", [(2, _NULLS)], False)],
)
def test_commit_sequences_equal_on_both_paths(
    spark, tmp_path_factory, bucketed, base_vals, ops
):
    """Random sequences of small merges, appends and overwrites, with
    NULL keys, duplicate keys, NaN, ±0.0, NULLs in every type and sources
    in another column order, on a bucketed and on a flat table. Each
    sequence also runs with its merge and append sources given as Arrow
    tables: on the driver path they skip the collect, and with the caps
    at 0 they take the Spark path as local relations. All four runs end
    in the same state."""
    base = list(zip(BASE_KEYS, base_vals))
    root = tmp_path_factory.mktemp("seq")
    runs = {
        (name, arrow): _run_sequence(
            spark, str(root / f"{name}-{arrow}"), bucketed, base, ops, caps, arrow
        )
        for name, caps in (("driver", _DRIVER), ("spark", _SPARK))
        for arrow in (False, True)
    }
    driver, driver_paths = runs["driver", False]
    on_spark, spark_paths = runs["spark", False]
    for state, paths in runs.values():
        assert state == driver
    assert runs["driver", True][1] == driver_paths
    assert runs["spark", True][1] == spark_paths
    # a pruned merge (bucketed) refuses a non-NULL key repeated in its
    # source on both paths, and commits nothing
    refused = [
        op == "merge" and bucketed and _repeats_a_key(rows)
        for op, rows, _ in ops
    ]
    assert spark_paths == [
        (op, None if no else True) for (op, _, _), no in zip(ops, refused)
    ]
    # a merge prunes only on a bucketed table; every append is small
    assert driver_paths == [
        (op, None if no else op == "overwrite" or (op == "merge" and not bucketed))
        for (op, _, _), no in zip(ops, refused)
    ]


def _repeats_a_key(rows):
    keys = [k for k, _ in rows if k is not None]
    return len(keys) != len(set(keys))


_CELL = st.tuples(
    st.sampled_from([datetime.date(2024, 1, 1), datetime.date(2024, 1, 2), None]),
    st.integers(0, 2),
    st.sampled_from(["visa", "amex"]),
    st.sampled_from(["food", "travel", None]),
    st.sampled_from([0.1, 0.2, 0.3, 1e16, 1.0, 7.25]),
)


_DAY1 = datetime.date(2024, 1, 1)


@settings(max_examples=3, deadline=None)
@given(st.lists(st.lists(_CELL, min_size=1, max_size=8), min_size=2, max_size=3))
# one cell whose sum depends on the order of its rows: 1 + 1 + 1e16 is
# 1e16 + 2, and 1e16 + 1 + 1 is 1e16
@example(
    [
        [(_DAY1, 0, "visa", "food", a) for a in (1.0, 1.0, 1e16)],
        [(_DAY1, 0, "visa", "food", 0.1)],
    ]
)
def test_gold_fold_equal_on_both_paths(spark, tmp_path_factory, batches):
    """``StreamingMedallion._fold_gold`` over a few batches, each re-sending
    the first half of the previous one (its prior rows, subtracted), given
    each silver slice as a single-partition DataFrame on the Spark path and
    as its Arrow table on the driver path, and as Arrow with the caps at 0:
    the pyarrow partials and fold give the Spark gold, doubles bit for bit
    (the amounts include 1e16 and 0.1, whose sums depend on order), and
    the same manifest entries."""
    from databricks_etl_pipelines_spark.streaming.structured import (
        StreamingMedallion,
    )

    root = tmp_path_factory.mktemp("gold")
    out = {}
    for name, caps, arrow in (
        ("driver", _DRIVER, True), ("spark", _SPARK, False), ("local", _SPARK, True)
    ):
        m = StreamingMedallion(spark, str(root / name))
        with pytest.MonkeyPatch.context() as mp:
            _caps(mp, caps)
            for i, rows in enumerate(batches):
                # ids unique across batches; batch i re-sends the first
                # half of batch i - 1, whose prior rows come in reverse
                # order, so only the fold's own order can match the paths
                slices = [[(100 * i + j,) + r for j, r in enumerate(rows)]]
                if i > 0:
                    prev = batches[i - 1]
                    prev = [(100 * (i - 1) + j,) + r for j, r in enumerate(prev)]
                    slices.append(prev[: (len(prev) + 1) // 2][::-1])
                frames = [
                    spark.createDataFrame(
                        part,
                        "transaction_id long, event_date date, event_hour "
                        "bigint, card_network string, mcc_category string, "
                        "amount double",
                    ).coalesce(1)
                    for part in slices
                ]
                m._fold_gold(*(f.toArrow() if arrow else f for f in frames))
                # an Arrow partial creates gold on the driver
                assert _spark_wrote(m.gold_hourly) == (
                    caps is _SPARK and (i > 0 or not arrow)
                )
        out[name] = _state(spark, m.gold_hourly)
    assert out["driver"] == out["spark"] == out["local"]


def _bucketed(spark, root, n=400):
    mt = ManagedTable(root)
    df = spark.range(0, n).select(
        "id",
        (F.col("id") * 2).alias("v"),
        F.concat(F.lit("s"), F.col("id").cast("string")).alias("s"),
        F.timestamp_seconds(F.col("id") * 3600).alias("ts"),
    )
    mt.create_or_overwrite(df, bucket_by=["id"], n_buckets=8)
    return mt


_UPSERT = [(5, -1, "five", None), (7, -2, None, None), (1000, 3, "new", None)]
_UPSERT_DDL = "id long, v long, s string, ts timestamp"


def test_mixed_version_reads_like_an_all_spark_version(spark, tmp_path):
    """A driver merge leaves a version of hardlinked Spark-written buckets
    and pyarrow-written ones. Spark reads it with the schema and rows of
    the same merge done on Spark, and ``ChangeFeed`` diffs across it."""
    src = spark.createDataFrame(_UPSERT, _UPSERT_DDL)
    states = {}
    for name, caps in (("driver", _DRIVER), ("spark", _SPARK)):
        mt = _bucketed(spark, str(tmp_path / name))
        with pytest.MonkeyPatch.context() as mp:
            _caps(mp, caps)
            mt.merge_upsert(spark, src, ["id"])
        states[name] = _state(spark, mt)
    assert states["driver"] == states["spark"]

    mt = ManagedTable(str(tmp_path / "driver"))
    assert not _spark_wrote(mt)
    feed = ChangeFeed(mt)
    changed = feed.changed_buckets(0, 1)
    assert len(changed) == _read_log(mt.root)[-1]["buckets_rewritten"] < 8
    changes = {
        (r.id, r._change_type) for r in feed.read_changes(spark, 0, 1).collect()
    }
    assert changes == {
        (5, "insert"), (5, "delete"), (7, "insert"), (7, "delete"),
        (1000, "insert"),
    }


def test_ntz_and_array_tables_take_the_spark_path(spark, tmp_path):
    """Spark reads a pyarrow file's TimestampNTZ column as NTZ only while
    ``spark.sql.parquet.inferTimestampNTZ.enabled`` is on, and the driver
    path writes flat atomic columns only: both tables stay on Spark with
    the caps at their defaults."""
    ntz = ManagedTable(str(tmp_path / "ntz"))
    ntz.create_or_overwrite(
        spark.range(0, 20).select(
            "id", F.to_timestamp_ntz(F.lit("2024-01-01 00:00:00")).alias("t")
        ),
        bucket_by=["id"],
        n_buckets=4,
    )
    ntz.merge_upsert(
        spark,
        spark.range(3).select(
            "id", F.to_timestamp_ntz(F.lit("2025-01-01 00:00:00")).alias("t")
        ),
        ["id"],
    )
    assert _spark_wrote(ntz)
    assert dict(ntz.read(spark).dtypes)["t"] == "timestamp_ntz"

    arr = ManagedTable(str(tmp_path / "arr"))
    arr.create_or_overwrite(spark.range(0, 5).select("id", F.array("id").alias("a")))
    arr.append(spark.range(5, 7).select("id", F.array("id").alias("a")))
    assert _spark_wrote(arr)
    assert arr.read(spark).count() == 7


def test_pre_epoch_timestamps_survive_driver_commits(spark, tmp_path):
    """A timestamp before 1970 with a fraction of a second, written by an
    Arrow overwrite, then carried through a driver append and a driver
    merge, reads back intact on Spark and on pyarrow."""
    t = datetime.datetime(1900, 1, 1, 0, 0, 0, 19448)
    ddl = "id long, ts timestamp"
    flat = ManagedTable(str(tmp_path / "flat"))
    flat.create_or_overwrite(
        pa.table({"id": [0, 1], "ts": pa.array([t, None], pa.timestamp("us", "UTC"))})
    )
    flat.append(spark.createDataFrame([(2, t)], ddl))
    assert not _spark_wrote(flat)
    assert sorted((r.id, r.ts) for r in flat.read(spark).collect()) == [
        (0, t), (1, None), (2, t)
    ]

    mt = ManagedTable(str(tmp_path / "bucketed"))
    mt.create_or_overwrite(
        spark.createDataFrame([(i, t) for i in range(8)], ddl),
        bucket_by=["id"],
        n_buckets=2,
    )
    for i in (1, 2):
        mt.merge_upsert(spark, spark.createDataFrame([(i, t)], ddl), ["id"])
        assert not _spark_wrote(mt)
    assert {r.ts for r in mt.read(spark).collect()} == {t}


def test_a_failed_commits_files_are_cleared(spark, tmp_path):
    """Files a crashed commit left at the next version are gone after the
    commit is replayed on the driver: a replayed merge or append equals
    the same commit on Spark, with no duplicated rows."""
    src = spark.createDataFrame(_UPSERT, _UPSERT_DDL)
    states = {}
    for name, caps in (("driver", _DRIVER), ("spark", _SPARK)):
        bucketed = _bucketed(spark, str(tmp_path / name / "bucketed"))
        flat = ManagedTable(str(tmp_path / name / "flat"))
        flat.create_or_overwrite(bucketed.read(spark))
        for mt in (bucketed, flat):
            # every file of the current version, left at the next one
            _link_tree(mt._version_dir(0), mt._version_dir(1))
        with pytest.MonkeyPatch.context() as mp:
            _caps(mp, caps)
            bucketed.merge_upsert(spark, src, ["id"])
            flat.append(src)
        assert _spark_wrote(bucketed) == _spark_wrote(flat) == (name == "spark")
        states[name] = [_state(spark, mt) for mt in (bucketed, flat)]
    assert states["driver"] == states["spark"]
    assert states["driver"][1][1] == _exact(
        ManagedTable(str(tmp_path / "driver" / "flat")).read(spark, 0).collect()
        + src.collect()
    )


@pytest.mark.parametrize("bucketed", [False, True], ids=["flat", "bucketed"])
def test_an_append_of_no_rows_links_the_previous_version(spark, tmp_path, bucketed):
    """A driver-path append of no rows rewrites nothing: its version holds
    the previous version's files as the same inodes and records its key,
    and the next append adds onto it."""
    root = str(tmp_path / "t")
    if bucketed:
        mt = _bucketed(spark, root, n=40)
    else:
        mt = ManagedTable(root)
        mt.create_or_overwrite(spark.createDataFrame(_UPSERT, _UPSERT_DDL))
    before = _state(spark, mt)[1]
    src = spark.createDataFrame(_UPSERT, _UPSERT_DDL)
    assert mt.append(src.limit(0), txn=("app", 0)) == 1
    assert _read_log(root)[-1]["txn"] == ["app", 0]
    assert mt.bucket_spec() == ((["id"], 8) if bucketed else None)
    assert _state(spark, mt)[1] == before
    for vdir in [mt._version_dir(0)] + (
        sorted(glob.glob(os.path.join(mt._version_dir(0), "__bucket=*")))
    ):
        rel = os.path.relpath(vdir, mt._version_dir(0))
        assert managed_table._same_file_set(
            vdir, os.path.normpath(os.path.join(mt._version_dir(1), rel))
        )
    mt.append(src, txn=("app", 1))
    assert _state(spark, mt)[1] == _exact(
        mt.read(spark, 0).collect() + src.collect()
    )


def test_merge_into_buckets_with_no_files_runs_on_the_driver(spark, tmp_path):
    """A bucket no row has hashed into yet has no directory; a merge whose
    keys land only there reads no prior file and still runs on the
    driver."""
    mt = ManagedTable(str(tmp_path / "t"))
    mt.create_or_overwrite(
        spark.createDataFrame([(0, 0)], "id long, v long"),
        bucket_by=["id"],
        n_buckets=8,
    )
    (b0,) = [
        d for d in os.listdir(mt._version_dir(0)) if d.startswith("__bucket=")
    ]
    src = spark.range(1, 20).select("id", F.lit(1).cast("long").alias("v"))
    src = src.filter(
        managed_table._bucket_expr(["id"], 8) != int(b0.split("=")[1])
    )
    mt.merge_upsert(spark, src, ["id"])
    assert not _spark_wrote(mt)
    assert sorted(mt.read(spark).collect()) == sorted(
        spark.createDataFrame([(0, 0)], "id long, v long").union(src).collect()
    )


@pytest.mark.parametrize("caps", [_DRIVER, _SPARK], ids=["driver", "spark"])
def test_merge_refuses_a_key_repeated_in_the_source(spark, tmp_path, caps):
    """A source that carries a key twice (a transaction and its
    correction) raises ValueError naming the key, as Delta's MERGE does on
    a multiple match, and the table keeps its version. A key with a NULL
    matches no row, so it may repeat."""
    mt = _bucketed(spark, str(tmp_path / "t"), n=16)
    twice = spark.createDataFrame(
        [(3, -1, "a", None), (1000, 0, "b", None), (3, -2, "c", None)],
        _UPSERT_DDL,
    )
    nulls = spark.createDataFrame(
        [(None, -1, "a", None), (None, -2, "b", None), (20, 0, "c", None)],
        _UPSERT_DDL,
    )
    with pytest.MonkeyPatch.context() as mp:
        _caps(mp, caps)
        with pytest.raises(ValueError, match=r"key \(id=3\) appears more than once"):
            mt.merge_upsert(spark, twice, ["id"])
        assert mt.latest_version() == 0
        mt.merge_upsert(spark, nulls, ["id"])
        assert _spark_wrote(mt) == (caps is _SPARK)
    assert mt.read(spark).count() == 16 + 3


def test_small_pruned_merge_runs_one_spark_job(spark, tmp_path):
    """The collect of the source is the only Spark job of a small pruned
    merge: the schema comes from the manifest and the files are read and
    written with pyarrow."""
    mt = _bucketed(spark, str(tmp_path / "t"))
    src = spark.createDataFrame(_UPSERT, _UPSERT_DDL)
    sc = spark.sparkContext
    group = f"driver-merge-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "small pruned merge")
    try:
        mt.merge_upsert(spark, src, ["id"])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert not _spark_wrote(mt)
    assert mt.read(spark).count() == 401


def test_merge_bucket_is_the_layout_merge_prunes_by(spark, tmp_path):
    """A source collected with ``merge_bucket`` carries the ids the pruned
    MERGE would compute; there is none where the MERGE is not pruned."""
    fresh = ManagedTable(str(tmp_path / "fresh"))
    assert fresh.merge_bucket(["id"]) is None
    name, col = fresh.merge_bucket(["id"], 8)
    assert name == managed_table.BUCKET_COL
    mt = _bucketed(spark, str(tmp_path / "t"))
    assert mt.merge_bucket(["v"]) is None
    name, col = mt.merge_bucket(["id"], 3)  # the table's own spec wins
    src = spark.createDataFrame(_UPSERT, _UPSERT_DDL).withColumn(name, col)
    got = {r.id: r[name] for r in src.collect()}
    want = src.select("id", managed_table._bucket_expr(["id"], 8).alias("b"))
    assert got == {r.id: r.b for r in want.collect()}
    flat = ManagedTable(str(tmp_path / "flat"))
    flat.create_or_overwrite(spark.range(4))
    assert flat.merge_bucket(["id"], 8) is None


def test_arrow_overwrite_refuses_a_layout(spark, tmp_path):
    mt = ManagedTable(str(tmp_path / "t"))
    table = pa.table({"id": [1, 2]})
    with pytest.raises(ValueError, match="unbucketed and unpartitioned"):
        mt.create_or_overwrite(table, bucket_by=["id"])
    with pytest.raises(ValueError, match="unbucketed and unpartitioned"):
        mt.create_or_overwrite(table, partition_by=["id"])
    with pytest.raises(ValueError, match="flat atomic columns only"):
        mt.create_or_overwrite(pa.table({"id": [[1], [2]]}))
    mt.create_or_overwrite(table)
    assert sorted(r.id for r in mt.read(spark).collect()) == [1, 2]
    assert _read_log(mt.root)[-1]["schema"] == (
        '{"fields":[{"metadata":{},"name":"id","nullable":true,'
        '"type":"long"}],"type":"struct"}'
    )


def _stream_batches(spark):
    """Three micro-batches of generator rows. Row 0 has a NULL id and rows
    977-997 fail one rule each, so every batch quarantines rows; the
    second and third batches re-send ids of earlier ones with new amounts
    (and row 0 again)."""
    from databricks_etl_pipelines_spark.sources.generator import (
        batch_transactions,
    )

    rows = batch_transactions(spark, 1200).toArrow()

    def resend(t, n):
        t = t.slice(0, n)
        amount = t.schema.get_field_index("amount")
        return t.set_column(
            amount, "amount", pc.add(t["amount"], pa.scalar(0.5))
        )

    first = rows.slice(0, 200)
    second = pa.concat_tables([rows.slice(960, 100), resend(first, 20)])
    third = pa.concat_tables(
        [rows.slice(1100, 100), resend(second, 30), resend(first, 1)]
    )
    return [first, second, third]


def _drain(spark, m, root, schema):
    """Start ``m`` on the feed and the checkpoint under ``root`` and drain
    it; return the Spark jobs the query ran, counted through its job group
    (its run id), and its progress entries."""
    stream = spark.readStream.schema(schema).parquet(os.path.join(root, "feed"))
    q = m.start(stream, os.path.join(root, "ckpt"))
    q.awaitTermination(120)
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))
    return len(jobs), q.recentProgress


def _scanned(progress):
    """The input rows a drain's scans read."""
    return sum(p["numInputRows"] for p in progress)


def _drain_each(spark, m, batches, root):
    """Feed ``batches`` to ``m`` one file and one availableNow drain at a
    time; return each drain's jobs and scanned rows (see ``_drain``)."""
    src = os.path.join(root, "feed")
    os.makedirs(src)
    schema = spark.createDataFrame(batches[0].slice(0, 0)).schema
    jobs, scanned = [], []
    for i, batch in enumerate(batches):
        # one file, one row group: each batch is a single split
        pq.write_table(batch, os.path.join(src, f"part-{i}.parquet"))
        n_jobs, progress = _drain(spark, m, root, schema)
        jobs.append(n_jobs)
        scanned.append(_scanned(progress))
    return jobs, scanned


def test_stream_batch_runs_one_spark_job(spark, tmp_path):
    """A small micro-batch is collected once and commits its quarantine
    append, silver MERGE and gold fold from that Arrow table: every batch
    after the first (which creates the tables) runs exactly one Spark job,
    and every batch scans its input once."""
    from databricks_etl_pipelines_spark.plans.medallion import silver_transform
    from databricks_etl_pipelines_spark.streaming.structured import (
        StreamingMedallion,
    )

    m = StreamingMedallion(spark, str(tmp_path / "tables"), bucket_silver=16)
    batches = _stream_batches(spark)
    jobs, scanned = _drain_each(spark, m, batches, str(tmp_path))
    assert jobs[1:] == [1, 1]
    # the first batch creates silver and quarantine from local relations
    assert scanned == [b.num_rows for b in batches]
    assert not _spark_wrote(m.silver)
    _, quarantined = silver_transform(
        spark.createDataFrame(pa.concat_tables(batches))
    )
    assert m.quarantine.read(spark).count() == quarantined.count() > len(batches)


def test_stream_equal_on_both_paths(spark, tmp_path):
    """A whole stream with re-sends and quarantined rows, drained with the
    driver caps and with them at 0 (the DataFrame path, every commit on
    Spark): silver, quarantine and gold end equal, gold doubles bit for
    bit, with the same manifest entries. A third drain crosses the row
    cap and back."""
    from databricks_etl_pipelines_spark.streaming.structured import (
        StreamingMedallion,
    )

    batches = _stream_batches(spark)
    # over a 150-row cap, batch 1 (200 rows) takes the DataFrame path;
    # batch 2 (120) is counted, not collected, and takes it too; batch 3
    # is collected again
    mixed = dict(_DRIVER, CAP_ROWS=150)
    out = {}
    for name, caps in (("driver", _DRIVER), ("spark", _SPARK), ("mixed", mixed)):
        m = StreamingMedallion(spark, str(tmp_path / name / "t"), bucket_silver=16)
        with pytest.MonkeyPatch.context() as mp:
            _caps(mp, caps)
            jobs, _ = _drain_each(spark, m, batches, str(tmp_path / name))
        assert _spark_wrote(m.silver) == (name == "spark")
        out[name] = [
            _state(spark, t) for t in (m.silver, m.quarantine, m.gold_hourly)
        ]
    assert jobs[1] > jobs[2] == 1
    assert out["driver"] == out["spark"] == out["mixed"]

    # gold is exact: each cell holds silver's grouped count, and its
    # volume silver's grouped sum up to the order of the additions
    keys = StreamingMedallion.GOLD_KEYS
    want = {
        tuple(r[k] for k in keys): (r.n, r.volume)
        for r in m.silver.read(spark)
        .groupBy(*keys)
        .agg(F.count("*").alias("n"), F.sum("amount").alias("volume"))
        .collect()
    }
    got = {
        tuple(r[k] for k in keys): (r.txn_count, r.total_volume)
        for r in m.gold_hourly.read(spark).collect()
    }
    assert set(got) == set(want)
    for cell, (n, volume) in want.items():
        assert got[cell][0] == n > 0
        assert abs(round(got[cell][1], 2) - round(volume, 2)) < 0.05


@pytest.fixture(scope="module")
def uninterrupted_stream(spark, tmp_path_factory):
    """The ``_state`` of silver, quarantine and gold after an uninterrupted
    drain of ``_stream_batches``."""
    from databricks_etl_pipelines_spark.streaming.structured import (
        StreamingMedallion,
    )

    root = tmp_path_factory.mktemp("uninterrupted")
    m = StreamingMedallion(spark, str(root / "t"), bucket_silver=16)
    _drain_each(spark, m, _stream_batches(spark), str(root))
    return [_state(spark, t) for t in (m.silver, m.quarantine, m.gold_hourly)]


@pytest.mark.parametrize("failing", ["quarantine", "silver", "gold_hourly"])
def test_stream_batch_replays_exactly_once(
    spark, tmp_path, uninterrupted_stream, failing
):
    """One commit of batch 2 raises once and the query fails; restarted on
    the same checkpoint, the batch redoes only its missing commits. Then
    the checkpoint's last ``commits/N`` file is deleted, so a restart
    replays batch N under the same id: it writes no table version, runs no
    Spark job and scans no row. Silver, quarantine and gold end as after an
    uninterrupted drain: no quarantine row appended twice, no batch folded
    twice into gold."""
    from pyspark.errors import StreamingQueryException

    from databricks_etl_pipelines_spark.streaming.structured import (
        StreamingMedallion,
    )

    m = StreamingMedallion(spark, str(tmp_path / "t"), bucket_silver=16)
    tables = (m.silver, m.quarantine, m.gold_hourly)
    commit = ManagedTable._commit
    raised = []

    def fail_once(self, *args, txn=None, **kwargs):
        batch = txn[1] if txn else None
        if os.path.basename(self.root) == failing and batch == 2 and not raised:
            raised.append(txn)
            raise RuntimeError("injected commit failure")
        return commit(self, *args, txn=txn, **kwargs)

    batches = _stream_batches(spark)
    schema = spark.createDataFrame(batches[0].slice(0, 0)).schema
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(ManagedTable, "_commit", fail_once)
        _drain_each(spark, m, batches[:2], str(tmp_path))
        pq.write_table(batches[2], str(tmp_path / "feed" / "part-2.parquet"))
        with pytest.raises(StreamingQueryException, match="injected"):
            _drain(spark, m, str(tmp_path), schema)
        assert raised
        _drain(spark, m, str(tmp_path), schema)
    assert [_state(spark, t) for t in tables] == uninterrupted_stream

    commits = tmp_path / "ckpt" / "commits"
    last = max(int(f) for f in os.listdir(commits) if f.isdigit())
    for name in (str(last), f".{last}.crc"):  # the file and its checksum
        os.remove(commits / name)
    logs = [_read_log(t.root) for t in tables]
    jobs, progress = _drain(spark, m, str(tmp_path), schema)
    assert (commits / str(last)).exists()  # the batch ran again
    assert (jobs, _scanned(progress)) == (0, 0)
    assert [_read_log(t.root) for t in tables] == logs


# -- every other foreachBatch operator: zero-row batches and replays --------

_WORDS = (
    "river mountain garden window kitchen market winter summer yellow silver "
    "teacher student doctor farmer letter paper pencil basket bottle candle "
    "forest meadow valley harbor bridge castle tower village station engine "
    "morning evening journey holiday weather thunder shadow silence whisper"
).split()


def _text(seed):
    """A random English-looking paragraph that passes the quality gate.
    Two seeds share almost no word 3-gram."""
    import random

    rng = random.Random(seed)
    words = []
    for i in range(36):
        words.append(rng.choice(_WORDS))
        if i % 6 == 5:
            words.append("the")
    return " ".join(words) + "."


def _near(text):
    """``text`` with its first word changed: a near-duplicate of it."""
    return "zebra " + text.split(" ", 1)[1]


def _docs_batches(spark):
    """Three micro-batches of documents. The second holds an exact copy of
    doc 1 (case changed), a near copy of doc 2 and an in-batch near pair;
    the third re-sends id 2 with new text and a near copy of doc 8. Doc 3
    fails the quality gate."""
    t = {i: _text(i) for i in range(1, 13)}
    rows = [
        [(1, t[1], "en", "web"), (2, t[2], "en", "crawl"),
         (3, "zzzz!!!! 9999 $$$$", "en", "web"), (4, t[4], "de", "web")],
        [(5, t[1].upper(), "en", "crawl"), (6, _near(t[2]), "de", "web"),
         (7, t[7], "en", "web"), (8, t[8], "en", "crawl"),
         (9, _near(t[7]), "de", "crawl")],
        [(2, t[10], "en", "web"), (10, t[11], "de", "crawl"),
         (11, _near(t[8]), "en", "web"), (12, t[12], "en", "crawl")],
    ]
    schema = "doc_id long, text string, lang string, source string"
    return [spark.createDataFrame(r, schema).toArrow() for r in rows]


def _events_batches(spark):
    """Three chronological micro-batches of events; user 9 first appears
    in the second, user 8 skips it."""
    def ev(eid, minute, uid, val):
        return (eid, datetime.datetime(2024, 1, 1, 0, minute), uid, val)

    rows = [
        [ev(1, 1, 7, 1.0), ev(2, 2, 8, 10.0), ev(3, 3, 7, 2.0)],
        [ev(4, 11, 7, 3.0), ev(5, 12, 9, 4.0)],
        [ev(6, 21, 8, 5.0), ev(7, 22, 7, 6.0)],
    ]
    schema = "event_id long, ts timestamp, user_id long, value double"
    return [spark.createDataFrame(r, schema).toArrow() for r in rows]


def _rows(df, remap=None, batch_cols=()):
    """``df``'s rows as ``_exact`` tuples in column-name order, each column
    in ``batch_cols`` (a batch id) mapped through ``remap``."""
    cols = sorted(df.columns)
    return _exact(
        [remap[r[c]] if remap and c in batch_cols else r[c] for c in cols]
        for r in df.collect()
    )


class _Op:
    """A stream operator under ``root``: ``start`` runs it on a stream and
    a checkpoint, ``outputs`` reads every output it persists, whose
    ``batch_cols`` hold batch ids. ``keyed`` tells that a replay of a batch
    whose writes landed runs no job."""

    def __init__(self, feed, keyed, start, outputs, batch_cols=("batch_id",)):
        self.feed, self.keyed, self.batch_cols = feed, keyed, batch_cols
        self.start, self._outputs = start, outputs

    def outputs(self, spark, remap=None):
        return [_rows(df, remap, self.batch_cols) for df in self._outputs(spark)]


def _op(spark, name, root):
    """The operator ``name`` with its outputs under ``root``."""
    from databricks_etl_pipelines_spark.operators import curation
    from databricks_etl_pipelines_spark.streaming import structured as st

    docs = spark.createDataFrame(pa.concat_tables(_docs_batches(spark)))
    table = {t: ManagedTable(os.path.join(root, t)) for t in ("out", "state")}
    out = os.path.join(root, "out_dir")

    def read(*paths):
        return lambda spark: [spark.read.parquet(os.path.join(root, p)) for p in paths]

    def tables(*names):
        return lambda spark: [table[t].read(spark) for t in names]

    def partial(df):
        return df.groupBy("lang").agg(
            F.count("*").alias("n"), F.sum(F.length("text")).alias("chars")
        )

    per_doc = curation.perplexity_score(docs, curation.perplexity_word_scores(docs))
    ops = {
        "curation_ingest": lambda: _Op(
            "docs", True,
            lambda s, c: st.curation_ingest(s, table["out"], c),
            tables("out"),
        ),
        "curation_ingest_neardup": lambda: _Op(
            "docs", True,
            lambda s, c: st.curation_ingest_neardup(
                s, table["out"], os.path.join(root, "index"), c
            ),
            lambda spark: tables("out")(spark)
            + read("index/bands", "index/shingles")(spark),
        ),
        "reservoir_sample_stream": lambda: _Op(
            "docs", True,
            lambda s, c: st.reservoir_sample_stream(s, table["out"], c, k=4),
            tables("out"),
        ),
        "foreach_batch_merge": lambda: _Op(
            "docs", True,
            lambda s, c: st.foreach_batch_merge(s, table["out"], ["doc_id"], c),
            tables("out"),
        ),
        "incremental_aggregate": lambda: _Op(
            "docs", True,
            lambda s, c: st.incremental_aggregate(
                s, table["out"], ["lang"], partial, c
            ),
            tables("out"),
        ),
        "dsir_score_stream": lambda: _Op(
            "docs", False,
            lambda s, c: st.dsir_score_stream(
                s,
                curation.dsir_log_ratios(
                    docs, "text", F.col("source") == "web", n_buckets=16
                ),
                out, c, n_buckets=16,
            ),
            read("out_dir"),
        ),
        "perplexity_gate_stream": lambda: _Op(
            "docs", False,
            lambda s, c: st.perplexity_gate_stream(
                s,
                curation.perplexity_word_scores(docs),
                curation.perplexity_cutoffs(per_doc, "lang"),
                out, c,
            ),
            read("out_dir"),
        ),
        "decontaminate_stream": lambda: _Op(
            "docs", False,
            lambda s, c: st.decontaminate_stream(
                s,
                curation.benchmark_ngrams(docs.filter("doc_id = 2"), ngram_n=8),
                out, c, ngram_n=8,
            ),
            read("out_dir"),
        ),
        "countmin_stream": lambda: _Op(
            "docs", False,
            lambda s, c: st.countmin_stream(s, out, c),
            read("out_dir"),
        ),
        "bloom_dedup_stream": lambda: _Op(
            "docs", True,
            lambda s, c: st.bloom_dedup_stream(s, table["state"], out, c),
            lambda spark: read("out_dir")(spark) + tables("state")(spark),
            batch_cols=("b", "batch_id", "first_batch"),
        ),
        "snapshot_fold_stream": lambda: _Op(
            "events", True,
            lambda s, c: st.ema_stream(s, table["state"].root, c),
            tables("state"),
        ),
    }
    return ops[name]()


_OP_NAMES = [
    "curation_ingest",
    "curation_ingest_neardup",
    "reservoir_sample_stream",
    "foreach_batch_merge",
    "incremental_aggregate",
    "dsir_score_stream",
    "perplexity_gate_stream",
    "decontaminate_stream",
    "countmin_stream",
    "bloom_dedup_stream",
    "snapshot_fold_stream",
]
_FEEDS = {"docs": _docs_batches, "events": _events_batches}


@pytest.fixture(scope="module")
def clean_drain(spark, tmp_path_factory):
    """``clean_drain(name)``: the outputs of operator ``name`` after an
    uninterrupted drain of its three batches, the input rows each drain
    scanned and each batch's rows, computed on first use."""
    done = {}

    def drain(name):
        if name not in done:
            root = str(tmp_path_factory.mktemp(f"clean_{name}"))
            op = _op(spark, name, root)
            batches = _FEEDS[op.feed](spark)
            _, scanned = _drain_each(spark, op, batches, root)
            done[name] = op.outputs(spark), scanned, [b.num_rows for b in batches]
        return done[name]

    return drain


@pytest.fixture(scope="module")
def clean_outputs(clean_drain):
    """``clean_outputs(name)``: the outputs of ``clean_drain(name)``."""
    return lambda name: clean_drain(name)[0]


@pytest.mark.parametrize("name", _OP_NAMES)
def test_stream_operator_scans_each_batch_once(clean_drain, name):
    """Every operator reads each micro-batch's input once: the rows its
    query reports scanned per batch equal the batch's rows."""
    _, scanned, rows = clean_drain(name)
    assert scanned == rows


@pytest.mark.parametrize("name", _OP_NAMES)
def test_stream_zero_row_batch_changes_nothing(spark, tmp_path, clean_outputs, name):
    """No operator tests a batch for emptiness: a zero-row file before the
    first batch and one between the first two each run as a batch of 0
    input rows, and every output ends as after a drain without them (batch
    ids mapped back to that drain's)."""
    root = str(tmp_path)
    op = _op(spark, name, root)
    batches = _FEEDS[op.feed](spark)
    empty = batches[0].slice(0, 0)
    feed = [empty, batches[0], empty, batches[1], batches[2]]
    schema = spark.createDataFrame(empty).schema
    os.makedirs(os.path.join(root, "feed"))
    for i, batch in enumerate(feed):
        pq.write_table(batch, os.path.join(root, "feed", f"part-{i}.parquet"))
        _, progress = _drain(spark, op, root, schema)
        if not batch.num_rows:
            assert [(p["batchId"], p["numInputRows"]) for p in progress] == [(i, 0)]
    data_ids = [i for i, b in enumerate(feed) if b.num_rows]
    remap = {i: n for n, i in enumerate(data_ids)}
    assert op.outputs(spark, remap) == clean_outputs(name)


@pytest.mark.parametrize("name", [
    "curation_ingest", "curation_ingest_neardup", "reservoir_sample_stream",
    "foreach_batch_merge", "incremental_aggregate", "bloom_dedup_stream",
    "snapshot_fold_stream",
])
def test_stream_recreated_checkpoint_is_a_new_stream(spark, tmp_path, name):
    """A checkpoint deleted and recreated at the same path starts a new
    stream whose batch ids start again at 0, not a replay of the old one:
    after a first feed on it, the second feed on the recreated checkpoint
    ends as on a checkpoint at another path (run on a copy of the outputs
    the first feed left). Checked for each operator that keys its writes."""
    same, other = str(tmp_path / "same"), str(tmp_path / "other")
    ops = {root: _op(spark, name, root) for root in (same, other)}
    batches = _FEEDS[ops[same].feed](spark)
    schema = spark.createDataFrame(batches[0].slice(0, 0)).schema

    def drain(root, i, ckpt):
        feed = os.path.join(root, f"feed{i}")
        os.makedirs(feed)
        pq.write_table(batches[i], os.path.join(feed, "part-0.parquet"))
        stream = spark.readStream.schema(schema).parquet(feed)
        q = ops[root].start(stream, os.path.join(root, ckpt))
        q.awaitTermination(120)
        assert [p["batchId"] for p in q.recentProgress] == [0]

    drain(same, 0, "ckpt")
    shutil.copytree(same, other)
    shutil.rmtree(os.path.join(same, "ckpt"))
    drain(same, 1, "ckpt")
    drain(other, 1, "other_ckpt")
    assert ops[same].outputs(spark) == ops[other].outputs(spark)


def _fail_after_first_write(mp, batch):
    """Make the first durable write of ``batch`` raise once, right after
    it lands: a ``ManagedTable`` commit keyed by the batch, or a parquet
    write to its ``batch_id=N``/``b=N`` directory. Returns the list that
    records the raise."""
    from pyspark.sql.readwriter import DataFrameWriter

    raised = []

    def after(write, hit):
        def wrapped(*args, **kwargs):
            out = write(*args, **kwargs)
            if hit(*args, **kwargs) and not raised:
                raised.append(True)
                raise RuntimeError("injected failure after a write")
            return out

        return wrapped

    mp.setattr(ManagedTable, "_commit", after(
        ManagedTable._commit,
        lambda self, *a, txn=None, **k: txn is not None and txn[1] == batch,
    ))
    mp.setattr(DataFrameWriter, "parquet", after(
        DataFrameWriter.parquet,
        lambda self, path, *a, **k: path.endswith(f"={batch}"),
    ))
    return raised


@pytest.mark.parametrize(
    "name",
    [
        pytest.param(
            n,
            marks=pytest.mark.xfail(
                strict=True, reason="index writes are unkeyed; ROADMAP item 3"
            ),
        )
        if n == "curation_ingest_neardup"
        else n
        for n in _OP_NAMES
    ],
)
def test_stream_operator_replays_exactly_once(spark, tmp_path, clean_outputs, name):
    """Batch 2 raises right after its first durable write and the query
    fails; restarted on the same checkpoint, it ends as an uninterrupted
    drain. Then the checkpoint's last ``commits/N`` file is deleted, so a
    restart replays batch N under the same id: the outputs stay equal, and
    an operator whose writes are all keyed runs no Spark job."""
    from pyspark.errors import StreamingQueryException

    root = str(tmp_path)
    op = _op(spark, name, root)
    batches = _FEEDS[op.feed](spark)
    schema = spark.createDataFrame(batches[0].slice(0, 0)).schema
    with pytest.MonkeyPatch.context() as mp:
        raised = _fail_after_first_write(mp, 2)
        _drain_each(spark, op, batches[:2], root)
        pq.write_table(batches[2], os.path.join(root, "feed", "part-2.parquet"))
        with pytest.raises(StreamingQueryException, match="injected"):
            _drain(spark, op, root, schema)
        assert raised
        _drain(spark, op, root, schema)
    assert op.outputs(spark) == clean_outputs(name)

    commits = os.path.join(root, "ckpt", "commits")
    last = max(int(f) for f in os.listdir(commits) if f.isdigit())
    for f in (str(last), f".{last}.crc"):  # the file and its checksum
        os.remove(os.path.join(commits, f))
    jobs, _ = _drain(spark, op, root, schema)
    assert os.path.exists(os.path.join(commits, str(last)))  # it ran again
    if op.keyed:
        assert jobs == 0
    assert op.outputs(spark) == clean_outputs(name)


def test_spark_bucketed_writes_leave_one_file_per_bucket(spark, tmp_path, monkeypatch):
    """The Spark path's bucketed overwrite and pruned append
    hash-partition by bucket: every bucket directory of both versions
    holds one part file."""
    _caps(monkeypatch, _SPARK)
    mt = ManagedTable(str(tmp_path / "b"))
    mt.create_or_overwrite(
        spark.range(0, 400).select("id", (F.col("id") % 5).alias("v")),
        bucket_by=["id"], n_buckets=8,
    )
    mt.append(spark.range(1000, 1003).select("id", F.col("id").alias("v")))
    assert _spark_wrote(mt) and _read_log(mt.root)[-1]["buckets_rewritten"] < 8
    for v in (0, 1):
        dirs = glob.glob(os.path.join(mt._version_dir(v), "__bucket=*"))
        assert len(dirs) == 8
        assert all(len(glob.glob(os.path.join(d, "part-*"))) == 1 for d in dirs)


def test_num_rows_and_history_rows_equal_reads(spark, tmp_path, jobs_in):
    """``num_rows`` sums a version's footers without a Spark job, across
    bucketed, partitioned, driver- and Spark-written versions; history
    shows it per version, and -1 once a version is vacuumed."""
    mt = ManagedTable(str(tmp_path / "t"))
    mt.create_or_overwrite(
        spark.range(0, 300).select("id", (F.col("id") % 7).alias("v")),
        bucket_by=["id"], n_buckets=4,
    )
    mt.append(spark.createDataFrame([(1000, 1), (1001, 2)], "id long, v long"))
    mt.merge_upsert(
        spark, spark.createDataFrame([(5, -1), (2000, 3)], "id long, v long"), ["id"]
    )
    mt.create_or_overwrite(
        spark.range(0, 50).select("id", (F.col("id") % 3).alias("v")),
        partition_by=["v"],
    )
    reads = [mt.read(spark, version=v).count() for v in range(4)]
    assert reads == [300, 302, 303, 50]
    counted, jobs = jobs_in(
        "num-rows", lambda: [mt.num_rows(v) for v in range(4)]
    )
    assert counted == reads and jobs == 0
    assert mt.num_rows() == 50
    assert [r.rows for r in mt.history(spark).collect()] == reads
    mt.vacuum(keep_last=2)
    assert [r.rows for r in mt.history(spark).collect()] == [-1, -1, 303, 50]
