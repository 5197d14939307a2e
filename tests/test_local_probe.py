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

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import given, settings, strategies as st

from databricks_etl_pipelines_spark.operators import local_probe
from databricks_etl_pipelines_spark.operators.retrieval import (
    InvertedTextIndex,
    TornIndexError,
)
from databricks_etl_pipelines_spark.operators.similarity import IvfIndex

_DRIVER, _SPARK = 1 << 62, 0


def _exact(rows):
    """Rows with every double as its hex form: ``==`` on floats would
    let 0.0 equal -0.0."""
    return [
        tuple(v.hex() if isinstance(v, float) else v for v in r) for r in rows
    ]


def _run(probe, limit):
    """``(schema, exact rows, Row field names, count())`` of a probe, or
    ``(error type, message)``."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(local_probe, "LOCAL_PROBE_MAX_BYTES", limit)
        try:
            df = probe()
            rows = df.collect()
            return df.schema, _exact(rows), [r.__fields__ for r in rows], df.count()
        except (ValueError, TornIndexError) as e:
            return type(e), str(e)


def _same_on_both_paths(probe):
    """The probe's ``(schema, exact rows)`` or ``(error type, message)``,
    asserted equal on both paths, with the Row field names and count."""
    driver = _run(probe, _DRIVER)
    assert driver == _run(probe, _SPARK)
    return driver[:2]


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

    idx = IvfIndex(str(tmp_path_factory.mktemp("ivfdiff") / "idx"))
    idx.build(frame(base, 0), "emb", "doc_id", nlist=3, centroid_stride=2)
    _same_on_both_paths(lambda: idx.probe(spark, queries[0], "doc_id", k=k,
                                          nprobe=2))
    idx.append(frame(late, 100), "emb", "doc_id")
    for q in queries[1:]:
        _same_on_both_paths(lambda: idx.probe(spark, q, "doc_id", k=k,
                                              nprobe=2))


def _clustered(spark, n, dim=8, first_id=0):
    """``n`` vectors around four corners of a ``dim``-cube, with sevenths
    so the fold order of their sums matters."""
    return spark.createDataFrame(
        [
            (first_id + i,
             [(4.0 if (i % 4) == j % 4 else 0.0) + ((i * j) % 7 - 3) / 7
              for j in range(dim)])
            for i in range(n)
        ],
        "doc_id long, emb array<double>",
    )


def test_kmeans_index_driver_path_equals_spark_path(spark, tmp_path):
    """One probe serves a KMeans-built index too: the driver path and
    the forced Spark path agree on schema, row order and doubles."""
    idx = IvfIndex(str(tmp_path / "kmeans"))
    idx.build_kmeans(_clustered(spark, 40), "emb", "doc_id", nlist=4, seed=7)
    for q, k, nprobe in (([4.0] + [0.0] * 7, 5, 1), ([1.0] * 8, 12, 2),
                         ([0.0, -1.0] * 4, 40, 4)):
        _, rows = _same_on_both_paths(
            lambda: idx.probe(spark, q, "doc_id", k=k, nprobe=nprobe)
        )
        assert 0 < len(rows) <= k


def test_append_refuses_a_pq_index(spark, tmp_path):
    """``append`` cannot encode PQ codes, so it raises on a
    ``build_pq`` index and leaves the lists as they were; ``probe``
    still serves the index on both paths."""
    idx = IvfIndex(str(tmp_path / "pq"))
    idx.build_pq(_clustered(spark, 40), "emb", "doc_id", nlist=2, m=2, k=4,
                 seed=7)
    before = _same_on_both_paths(
        lambda: idx.probe(spark, [4.0] + [0.0] * 7, "doc_id", k=6, nprobe=2)
    )
    with pytest.raises(ValueError, match="PQ codes"):
        idx.append(_clustered(spark, 4, first_id=100), "emb", "doc_id")
    assert _same_on_both_paths(
        lambda: idx.probe(spark, [4.0] + [0.0] * 7, "doc_id", k=6, nprobe=2)
    ) == before


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
    ivf = IvfIndex(str(tmp_path / "ivf"))
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


def test_driver_path_collect_calls_no_jvm(spark, tmp_path):
    """A driver-path probe answers ``collect()``, ``count()`` and
    ``schema`` from its Arrow rows: with ``createDataFrame`` refusing,
    the BM25 and IVF probes still equal the Spark path's. A later
    ``.orderBy(...).collect()`` on the same frame builds its JVM
    relation."""
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(i, f"alpha beta doc{i % 3}") for i in range(6)],
        "doc_id long, text string",
    )
    idx = InvertedTextIndex.build(docs, "text", "doc_id", str(tmp_path / "bm25"))
    vecs = spark.createDataFrame(
        [(i, [float(i % 4), 1.0]) for i in range(8)] + [(8, [0.0, 0.0])],
        "doc_id long, emb array<double>",
    )
    ivf = IvfIndex(str(tmp_path / "ivf"))
    ivf.build(vecs, "emb", "doc_id", nlist=2, centroid_stride=3)
    probes = (
        lambda: idx.probe_bm25(spark, ("alpha", "doc1"), k=5),
        lambda: ivf.probe(spark, [3.0, 1.0], "doc_id", k=9, nprobe=2),
    )
    want = [_run(p, _SPARK) for p in probes]

    def refuse(*args, **kwargs):
        raise AssertionError("createDataFrame called")

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(local_probe, "LOCAL_PROBE_MAX_BYTES", _DRIVER)
        mp.setattr(type(spark), "createDataFrame", refuse)
        frames = [p() for p in probes]
        got = [
            (df.schema, _exact(rows), [r.__fields__ for r in rows], df.count())
            for df, rows in ((df, df.collect()) for df in frames)
        ]
    assert all(isinstance(df, local_probe.ArrowFrame) for df in frames)
    assert got == want
    top, near = frames
    assert top.orderBy("doc_id").collect() == sorted(
        top.collect(), key=lambda r: r.doc_id
    )
    assert near.orderBy(F.desc("doc_id")).collect() == sorted(
        near.collect(), key=lambda r: -r.doc_id
    )


def test_ivf_string_ids_driver_path_equals_spark_path(spark, tmp_path):
    """String ids (on a KMeans-built index: the strided build needs
    integral ids): tied cosines order by the id's UTF-8 bytes on both
    paths (upper case, digits and a non-ASCII letter among them), before
    and after an append."""
    ids = ["b", "B", "a10", "a9", "\u00e9", "z", "Z1", "", "a"]

    def frame(names, offset):
        return spark.createDataFrame(
            [(n, [float((i + offset) % 3), 1.0]) for i, n in enumerate(names)],
            "doc_id string, emb array<double>",
        )

    ivf = IvfIndex(str(tmp_path / "ivf"))
    ivf.build_kmeans(frame(ids, 0), "emb", "doc_id", nlist=2, seed=7)
    probe = lambda: ivf.probe(spark, [2.0, 1.0], "doc_id", k=7, nprobe=2)
    schema, rows = _same_on_both_paths(probe)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(local_probe, "LOCAL_PROBE_MAX_BYTES", _DRIVER)
        assert isinstance(probe(), local_probe.ArrowFrame)
    assert schema["doc_id"].dataType.simpleString() == "string"
    assert len(rows) == 7 and all(isinstance(r[0], str) for r in rows)
    ivf.append(frame(["\u00e8", "Y", "a11"], 1), "emb", "doc_id")
    _same_on_both_paths(
        lambda: ivf.probe(spark, [2.0, 1.0], "doc_id", k=12, nprobe=2)
    )


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

    ivf = IvfIndex(str(tmp_path / "ivf"))
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
    paths = []
    for name, id_type in (("a", pa.int64()), ("b", pa.int64()), ("c", pa.int32())):
        paths.append(str(tmp_path / f"part-{name}.parquet"))
        pq.write_table(pa.table({"id": pa.array([1, 2], id_type)}), paths[-1])
    assert local_probe.read_files(paths[:2], ["id"])["id"].to_pylist() == [1, 2] * 2
    assert local_probe.read_files(paths, ["id"]) is None


def _cached(root):
    """The cache entries ``(path, columns) -> (sig, table, bytes)`` of
    files under ``root``."""
    return {
        key: entry for key, entry in local_probe._CACHE.items()
        if key[0].startswith(root)
    }


def test_cached_probes_follow_appends_rebuilds_and_evictions(
    spark, tmp_path, monkeypatch
):
    """Warm BM25 and IVF probes served from the file cache equal the
    forced Spark path after an append adds a file to a probed bucket or
    list, after a rebuild at the same root, and after the cache evicted
    the index's files."""
    def docs(texts, first_id):
        return spark.createDataFrame(
            [(first_id + i, t) for i, t in enumerate(texts)],
            "doc_id long, text string",
        )

    def vecs(n, first_id):
        return spark.createDataFrame(
            [(first_id + i, [float((i * 3) % 5), 1.0 + i % 2]) for i in range(n)],
            "doc_id long, emb array<double>",
        )

    bm25 = InvertedTextIndex.build(
        docs(["alpha beta", "beta alpha", "alpha gamma", "beta delta"], 0),
        "text", "doc_id", str(tmp_path / "bm25"),
    )
    ivf = IvfIndex(str(tmp_path / "ivf"))
    ivf.build(vecs(6, 0), "emb", "doc_id", nlist=2, centroid_stride=3)

    def check(n_docs, n_vecs):
        """Both probes on both paths; every doc and vector is returned."""
        got = [
            _same_on_both_paths(
                lambda: bm25.probe_bm25(spark, ("alpha", "beta"), k=n_docs)
            ),
            _same_on_both_paths(
                lambda: ivf.probe(spark, [2.0, 1.0], "doc_id", k=n_vecs,
                                  nprobe=2)
            ),
        ]
        return [sorted(r[0] for r in rows) for _, rows in got]

    assert check(4, 6) == [[0, 1, 2, 3], list(range(6))]
    warm = _cached(str(tmp_path))
    assert warm
    assert check(4, 6) == [[0, 1, 2, 3], list(range(6))]
    assert _cached(str(tmp_path)).keys() == warm.keys()

    # an append adds a file to a probed bucket and to a probed list
    bm25.append(docs(["alpha beta beta", "beta"], 100), "text", "doc_id")
    ivf.append(vecs(2, 100), "emb", "doc_id")
    assert check(6, 8) == [[0, 1, 2, 3, 100, 101], [*range(6), 100, 101]]

    # a rebuild at the same root writes new part names
    bm25 = InvertedTextIndex.build(
        docs(["beta alpha alpha", "alpha", "beta"], 200), "text", "doc_id",
        bm25.root,
    )
    ivf.build(vecs(5, 200), "emb", "doc_id", nlist=2, centroid_stride=3)
    rebuilt = check(3, 5)
    assert rebuilt == [[200, 201, 202], list(range(200, 205))]

    # a bound that holds only the table read last: that read evicts the
    # index's files, and the probes read them again
    assert _cached(bm25.root) and _cached(ivf.root)
    other = str(tmp_path / "other.parquet")
    pq.write_table(pa.table({"id": [1, 2, 3]}), other)
    bound = pq.read_table(other).nbytes
    monkeypatch.setattr(local_probe, "LOCAL_PROBE_CACHE_BYTES", bound)
    local_probe.read_files([other], ["id"])
    assert not _cached(bm25.root) and not _cached(ivf.root)
    assert check(3, 5) == rebuilt
    assert local_probe._cache_bytes <= bound


def test_read_files_keeps_tables_up_to_the_cache_bound(tmp_path, monkeypatch):
    """A table larger than ``LOCAL_PROBE_CACHE_BYTES`` is read but not
    kept; one within it is kept, and is read again once its file is
    rewritten in place."""
    path = str(tmp_path / "part-0.parquet")
    pq.write_table(pa.table({"id": list(range(100))}), path)
    size = pq.read_table(path).nbytes
    key = (path, ("id",))

    monkeypatch.setattr(local_probe, "LOCAL_PROBE_CACHE_BYTES", size - 1)
    assert local_probe.read_files([path], ["id"])["id"].to_pylist() == list(range(100))
    assert key not in local_probe._CACHE

    monkeypatch.setattr(local_probe, "LOCAL_PROBE_CACHE_BYTES", size)
    local_probe.read_files([path], ["id"])
    assert key in local_probe._CACHE

    pq.write_table(pa.table({"id": [7, 8]}), path)
    assert local_probe.read_files([path], ["id"])["id"].to_pylist() == [7, 8]


@pytest.mark.parametrize("id_type", ["int", "string"])
def test_bm25_int_and_string_ids_driver_path_equals_spark_path(
    spark, tmp_path, id_type
):
    """The numpy scoring groups and orders int and string doc ids as the
    Spark path does: tied scores order by the id (a string's UTF-8
    bytes), a repeated query term counts once, a term absent from the
    corpus adds +0.0, and an under-filled probe raises alike."""
    texts = ["ant bee", "bee ant", "ant ant cat", "cat", "bee", "ant bee cat",
             "dog", "ant", "bee bee"]
    ids = (["b", "B", "a10", "a9", "é", "z", "Z1", "", "a"]
           if id_type == "string" else [3, -1, 7, 0, 12, 5, 9, 2, 4])
    idx = InvertedTextIndex.build(
        spark.createDataFrame(list(zip(ids, texts)),
                              f"doc_id {id_type}, text string"),
        "text", "doc_id", str(tmp_path / "bm25"),
    )
    for terms, k in ((("ant", "bee", "ant"), 6), (("bee", "yak"), 5),
                     (("cat", "dog"), 4)):
        schema, rows = _same_on_both_paths(
            lambda: idx.probe_bm25(spark, terms, k=k)
        )
        assert schema["doc_id"].dataType.simpleString() == id_type
        assert len(rows) == k
    err = _same_on_both_paths(lambda: idx.probe_bm25(spark, ("cat", "yak"), k=4))
    assert err[0] is ValueError and "only 3 documents match" in err[1]


def test_strict_log_memo_returns_the_jvm_bits(spark):
    """The memoised ``_strict_log`` gives ``StrictMath.log``'s bits over a
    sweep of idf arguments, and a repeated argument makes no JVM call."""
    from databricks_etl_pipelines_spark.operators.retrieval import (
        _strict_log,
        _strict_log_of,
    )

    jvm_log = spark._jvm.java.lang.StrictMath.log
    xs = [
        1.0 + ((float(n) - d) + 0.5) / (d + 0.5)
        for n in (1, 2, 7, 100, 997, 20_000, 10**9)
        for d in range(1, min(n, 40) + 1)
    ]
    want = [float(jvm_log(x)).hex() for x in xs]
    assert [_strict_log(spark, x).hex() for x in xs] == want
    misses = _strict_log_of.cache_info().misses
    assert [_strict_log(spark, x).hex() for x in xs] == want
    assert _strict_log_of.cache_info().misses == misses


def _new_files_per_dir(root, prefix, before=frozenset()):
    """For each ``prefix*`` directory under ``root``, its part files not
    in ``before``; and the set of every part file."""
    new, every = {}, set()
    for d in os.listdir(root):
        if d.startswith(prefix):
            for f in os.listdir(os.path.join(root, d)):
                if not f.startswith(("_", ".")):
                    path = os.path.join(d, f)
                    every.add(path)
                    if path not in before:
                        new[d] = new.get(d, 0) + 1
    return new, every


def test_index_writes_leave_one_file_per_bucket_directory(spark, tmp_path):
    """The BM25 posting and MinHash band writers hash-partition by the
    bucket column, so a build and an append each write one part file
    into every bucket directory they touch."""
    from databricks_etl_pipelines_spark.operators.dedup import (
        MinHashCorpusIndex,
    )

    def docs(n, first_id):
        return spark.createDataFrame(
            [(first_id + i, f"w{i % 13} w{i % 7} shared words doc{i}")
             for i in range(n)],
            "doc_id long, text string",
        )

    bm25 = InvertedTextIndex.build(
        docs(60, 0), "text", "doc_id", str(tmp_path / "bm25"), n_buckets=16
    )
    postings = os.path.join(bm25.root, bm25.POSTINGS)
    built, files = _new_files_per_dir(postings, "wb=")
    assert len(built) > 1 and set(built.values()) == {1}
    bm25.append(docs(20, 100), "text", "doc_id")
    appended, _ = _new_files_per_dir(postings, "wb=", files)
    assert appended and set(appended.values()) == {1}

    mh = MinHashCorpusIndex.build(docs(60, 0), "text", "doc_id",
                                  str(tmp_path / "mh"), bands=8)
    bands = os.path.join(mh.root, mh.BANDS)
    built, files = _new_files_per_dir(bands, "band_id=")
    assert len(built) == 8 and set(built.values()) == {1}
    mh.add(spark, docs(20, 100), "text", "doc_id")
    appended, _ = _new_files_per_dir(bands, "band_id=", files)
    assert len(appended) == 8 and set(appended.values()) == {1}
