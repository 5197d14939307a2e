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
import os
import uuid

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
    return [
        {k: v for k, v in e.items() if k != "timestamp"}
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


def _run_sequence(spark, root, bucketed, base, ops, caps):
    mt = ManagedTable(root)
    layout = {"bucket_by": ["k"], "n_buckets": 4} if bucketed else {}
    paths = []
    with pytest.MonkeyPatch.context() as mp:
        _caps(mp, caps)
        mt.create_or_overwrite(_frame(spark, base, False), **layout)
        for op, rows, reorder in ops:
            df = _frame(spark, rows, reorder)
            if op == "merge":
                mt.merge_upsert(spark, df, ["k"])
            elif op == "append":
                mt.append(df)
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
def test_commit_sequences_equal_on_both_paths(
    spark, tmp_path_factory, bucketed, base_vals, ops
):
    """Random sequences of small merges, appends and overwrites, with
    NULL keys, duplicate keys, NaN, ±0.0, NULLs in every type and sources
    in another column order, on a bucketed and on a flat table."""
    base = list(zip(BASE_KEYS, base_vals))
    root = tmp_path_factory.mktemp("seq")
    driver, driver_paths = _run_sequence(
        spark, str(root / "driver"), bucketed, base, ops, _DRIVER
    )
    on_spark, spark_paths = _run_sequence(
        spark, str(root / "spark"), bucketed, base, ops, _SPARK
    )
    assert driver == on_spark
    assert all(wrote for _, wrote in spark_paths)
    # a merge prunes only on a bucketed table; every append is small
    assert driver_paths == [
        (op, op == "overwrite" or (op == "merge" and not bucketed))
        for op, _ in spark_paths
    ]


_CELL = st.tuples(
    st.sampled_from([datetime.date(2024, 1, 1), datetime.date(2024, 1, 2), None]),
    st.integers(0, 2),
    st.sampled_from(["visa", "amex"]),
    st.sampled_from(["food", "travel", None]),
    st.sampled_from([0.1, 0.2, 0.3, 1e16, 1.0, 7.25]),
)


@settings(max_examples=3, deadline=None)
@given(st.lists(st.lists(_CELL, min_size=1, max_size=8), min_size=2, max_size=3))
def test_gold_fold_equal_on_both_paths(spark, tmp_path_factory, batches):
    """``StreamingMedallion._fold_gold`` over a few batches: the driver
    fold gives the Spark fold's gold, doubles bit for bit, and the same
    manifest entries."""
    from databricks_etl_pipelines_spark.streaming.structured import (
        StreamingMedallion,
    )

    root = tmp_path_factory.mktemp("gold")
    out = {}
    for name, caps in (("driver", _DRIVER), ("spark", _SPARK)):
        m = StreamingMedallion(spark, str(root / name))
        with pytest.MonkeyPatch.context() as mp:
            _caps(mp, caps)
            for i, rows in enumerate(batches):
                m._fold_gold(
                    spark.createDataFrame(
                        rows,
                        "event_date date, event_hour bigint, card_network "
                        "string, mcc_category string, amount double",
                    )
                )
                # the first batch creates gold on Spark
                assert _spark_wrote(m.gold_hourly) == (name == "spark" or i == 0)
        out[name] = _state(spark, m.gold_hourly)
    assert out["driver"] == out["spark"]


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
    import pyarrow as pa

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


def test_arrow_overwrite_refuses_a_layout(spark, tmp_path):
    import pyarrow as pa

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
