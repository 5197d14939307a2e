"""Differential tests: the driver path of small index probes against the
Spark path, forced in turn by setting the module threshold
``local_probe.LOCAL_PROBE_MAX_BYTES`` to a huge value or to 0.

Both paths must give the same schema, the same row order and the same
doubles bit for bit, and raise the same errors. Spark round-trips are
expensive per example, so each example builds one small index and probes
it a few times.
"""

from __future__ import annotations

import json
import os

import pytest
from hypothesis import given, settings, strategies as st

from databricks_etl_pipelines_spark.operators import local_probe
from databricks_etl_pipelines_spark.operators.retrieval import (
    InvertedTextIndex,
    TornIndexError,
)
from databricks_etl_pipelines_spark.operators.similarity import DetIvfIndex

_DRIVER, _SPARK = 1 << 62, 0


def _exact(rows):
    """Rows with every double as its hex form: ``==`` on floats would
    let 0.0 equal -0.0."""
    return [
        tuple(v.hex() if isinstance(v, float) else v for v in r) for r in rows
    ]


def _run(probe, limit):
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(local_probe, "LOCAL_PROBE_MAX_BYTES", limit)
        try:
            df = probe()
            return df.schema, _exact(df.collect())
        except (ValueError, TornIndexError) as e:
            return type(e), str(e)


def _same_on_both_paths(probe):
    driver = _run(probe, _DRIVER)
    assert driver == _run(probe, _SPARK)
    return driver


WORDS = st.lists(
    st.sampled_from(["ant", "bee", "cat", "dog", "eel"]), min_size=1, max_size=8
)
QUERY = st.lists(
    # "yak" never occurs in a document
    st.sampled_from(["ant", "bee", "cat", "eel", "yak"]), min_size=1, max_size=4
)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(WORDS, min_size=2, max_size=10),
    st.lists(WORDS, min_size=1, max_size=4),
    st.lists(st.tuples(QUERY, st.integers(min_value=1, max_value=6)),
             min_size=2, max_size=3),
)
def test_bm25_driver_path_equals_spark_path(
    spark, tmp_path_factory, base, late, probes
):
    """Duplicate and absent query terms, tied scores (documents repeat
    words from a five-word vocabulary), probes before and after an
    append, and under-filled probes that must raise alike."""
    def frame(docs, first_id):
        return spark.createDataFrame(
            [(first_id + i, " ".join(w)) for i, w in enumerate(docs)],
            "doc_id long, text string",
        )

    root = str(tmp_path_factory.mktemp("bm25diff") / "idx")
    idx = InvertedTextIndex.build(frame(base, 0), "text", "doc_id", root)
    terms, k = probes[0]
    _same_on_both_paths(lambda: idx.probe_bm25(spark, tuple(terms), k=k))
    idx.append(frame(late, 100), "text", "doc_id")
    for terms, k in probes[1:]:
        _same_on_both_paths(lambda: idx.probe_bm25(spark, tuple(terms), k=k))


# a small pool of 16-d vectors: repeats give tied cosines, the zero
# vector a zero norm (NULL cosine, sorted last), sevenths inexact products
# whose sums over 16 terms depend on the fold order (numpy's pairwise
# np.sum would round some of them differently)
_POOL = [[((i * j) % 11 - 5) / 7 for j in range(16)] for i in range(1, 6)]
_VECTORS = st.sampled_from(
    [[0.0] * 16, *_POOL, [2 * x for x in _POOL[0]], [1.0] * 16]
)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(_VECTORS, min_size=4, max_size=16),
    st.lists(_VECTORS, min_size=1, max_size=6),
    st.lists(_VECTORS, min_size=2, max_size=3),
    st.integers(min_value=1, max_value=12),
)
def test_ivf_driver_path_equals_spark_path(
    spark, tmp_path_factory, base, late, queries, k
):
    def frame(vecs, first_id):
        return spark.createDataFrame(
            [(first_id + i, v) for i, v in enumerate(vecs)],
            "doc_id long, emb array<double>",
        )

    idx = DetIvfIndex(str(tmp_path_factory.mktemp("ivfdiff") / "idx"))
    idx.build(frame(base, 0), "emb", "doc_id", nlist=3, centroid_stride=2)
    _same_on_both_paths(lambda: idx.probe(spark, queries[0], "doc_id", k=k,
                                          nprobe=2))
    idx.append(frame(late, 100), "emb", "doc_id")
    for q in queries[1:]:
        _same_on_both_paths(lambda: idx.probe(spark, q, "doc_id", k=k,
                                              nprobe=2))


def test_driver_path_errors_and_no_jobs(spark, tmp_path):
    """The under-fill ValueError and TornIndexError are raised alike on
    both paths; a driver-path probe and its ``.collect()`` run no Spark
    job."""
    docs = spark.createDataFrame(
        [(i, f"alpha beta doc{i}") for i in range(3)], "doc_id long, text string"
    )
    idx = InvertedTextIndex.build(docs, "text", "doc_id", str(tmp_path / "bm25"))
    err = _same_on_both_paths(lambda: idx.probe_bm25(spark, ("alpha",), k=4))
    assert err[0] is ValueError and "only 3 documents match" in err[1]

    vecs = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(6)], "doc_id long, emb array<double>"
    )
    ivf = DetIvfIndex(str(tmp_path / "ivf"))
    ivf.build(vecs, "emb", "doc_id", nlist=2, centroid_stride=3)

    sc = spark.sparkContext
    group = "local-probe-no-jobs"
    sc.setJobGroup(group, "driver-path probes")
    try:
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(local_probe, "LOCAL_PROBE_MAX_BYTES", _DRIVER)
            top = idx.probe_bm25(spark, ("alpha", "doc1"), k=3).collect()
            near = ivf.probe(spark, [5.0, 1.0], "doc_id", k=2).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert top[0].doc_id == 1 and len(top) == 3
    assert [r.doc_id for r in near] == [5, 4]
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []

    os.makedirs(os.path.join(idx.root, idx.PENDING), exist_ok=True)
    with open(os.path.join(idx.root, idx.PENDING, "b0.json"), "w") as f:
        json.dump({"n_docs": 1, "sum_dl": 3}, f)
    err = _same_on_both_paths(lambda: idx.probe_bm25(spark, ("alpha",), k=2))
    assert err[0] is TornIndexError


def test_append_casts_ids_to_the_stored_type(spark, tmp_path):
    """Built with bigint ids, appended with int ids: the append casts to
    the stored type, so every posting / list file has one schema and
    both forced paths return the appended documents, alike."""
    from pyspark.sql.types import LongType, StructType

    idx = InvertedTextIndex.build(
        spark.createDataFrame(
            [(i, f"alpha doc{i}") for i in range(4)], "doc_id long, text string"
        ),
        "text", "doc_id", str(tmp_path / "bm25"),
    )
    idx.append(
        spark.createDataFrame([(10, "alpha alpha new")], "doc_id int, text string"),
        "text", "doc_id",
    )
    schema, rows = _same_on_both_paths(
        lambda: idx.probe_bm25(spark, ("alpha", "new"), k=5)
    )
    assert isinstance(schema, StructType)
    assert schema["doc_id"].dataType == LongType()
    assert rows[0][0] == 10 and len(rows) == 5

    ivf = DetIvfIndex(str(tmp_path / "ivf"))
    ivf.build(
        spark.createDataFrame(
            [(i, [float(i), 1.0]) for i in range(6)],
            "doc_id long, emb array<double>",
        ),
        "emb", "doc_id", nlist=2, centroid_stride=3,
    )
    ivf.append(
        spark.createDataFrame([(10, [9.0, 1.0])], "doc_id int, emb array<double>"),
        "emb", "doc_id",
    )
    schema, rows = _same_on_both_paths(
        lambda: ivf.probe(spark, [9.0, 1.0], "doc_id", k=3, nprobe=2)
    )
    assert isinstance(schema, StructType)
    assert schema["doc_id"].dataType == LongType()
    assert rows[0][0] == 10 and len(rows) == 3


def test_strict_log_matches_spark_log_bit_for_bit(spark):
    """The driver-path idf goes through StrictMath, which is what Spark's
    ``log`` runs; ``math.log`` is 1 ulp off on some of these pairs."""
    from pyspark.sql import functions as F

    from databricks_etl_pipelines_spark.operators.retrieval import _strict_log

    pairs = spark.range(1, 3001).select(
        (F.col("id") * 7 + 5).alias("n"), (F.col("id") % 97 + 1).alias("df")
    )
    x = F.lit(1.0) + (F.col("n").cast("double") - F.col("df") + F.lit(0.5)) / (
        F.col("df") + F.lit(0.5)
    )
    rows = pairs.select("n", "df", x.alias("x"), F.log(x).alias("idf")).collect()
    assert all(_strict_log(spark, r.x) == r.idf for r in rows)



def test_read_files_leaves_differing_schemas_to_spark(tmp_path):
    """An append whose ids are int where the build's were bigint leaves
    files of two schemas in one directory: the driver path declines them
    (None) instead of failing to concatenate."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    paths = []
    for name, id_type in (("a", pa.int64()), ("b", pa.int64()), ("c", pa.int32())):
        paths.append(str(tmp_path / f"part-{name}.parquet"))
        pq.write_table(pa.table({"id": pa.array([1, 2], id_type)}), paths[-1])
    assert local_probe.read_files(paths[:2], ["id"])["id"].to_pylist() == [1, 2] * 2
    assert local_probe.read_files(paths, ["id"]) is None
