"""Driver-side serving of small index probes.

A probe of a persisted index reads a few hive partition directories:
``wb=`` posting buckets for :class:`retrieval.InvertedTextIndex`,
``list_id=`` inverted lists for :class:`similarity.IvfIndex`. At small
sizes almost none of a Spark probe's latency is scoring. It is fixed cost
per job: a 64-task listing job whenever a read names more directories
than ``parallelPartitionDiscovery.threshold``, a schema-inference job,
the aggregation and top-k jobs, and a Python-worker job to collect a
row-list result relation.

So when the probed directories hold less than
:data:`LOCAL_PROBE_MAX_BYTES` of parquet, a probe lists and reads only
those directories with pyarrow (:func:`probed_files`,
:func:`read_files`), scores them with numpy in the Spark expressions'
IEEE op order, and returns its ≤ k rows as an :class:`ArrowFrame`
(:func:`arrow_frame`). That frame answers ``collect()``, ``count()`` and
``schema`` from its Arrow table on the driver, with no JVM call; the JVM
local relation is built only when another method needs it. No Spark job
runs, neither in the probe nor in the caller's ``.collect()``. Larger
probes take the Spark path unchanged.

Repeated probes read the same part files, so :func:`read_files` keeps
each file's decoded Arrow table in one process-wide LRU, keyed by
``(path, columns)`` and bounded by :data:`LOCAL_PROBE_CACHE_BYTES`. This
is safe because a part-file path names one content: Spark part names
carry the write job's UUID, and ``managed_table._write_arrow`` names carry
a ``uuid4``. An entry is still checked against the ``(st_ino, st_size,
st_mtime_ns)`` of the stat :func:`capped_files` takes when it lists the
file, so a file rewritten in place is read again. Every probe lists its
directories, so an append's new file, or the new names a rebuild writes,
are read fresh. Files rewritten in place by design (``bm25_meta.json``,
``centroids.json``) are read outside this cache, every probe.

Appends read the stored id type the same way, from a part file's footer
(:func:`cast_to_stored`), so an index never holds files of two schemas.
"""

from __future__ import annotations

import json
import os
import threading
from collections import OrderedDict
from collections.abc import Iterable, Sequence

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame
from pyspark.sql.types import (
    BooleanType,
    ByteType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    Row,
    ShortType,
    StringType,
    StructType,
    _create_row,
)

# A cap on driver memory, not a measured crossover. The driver path holds
# one probe's input in memory as an Arrow table. A 20k-doc index in 2
# buckets/lists decoded to 7.0x its parquet bytes for postings (words are
# dictionary-encoded on disk) and 1.1x for IVF lists, so 16 MiB of files
# bounds that copy to ~110 MB. Where the Spark path starts to win is not
# known: on a 4-core host the driver path still won at the largest probes
# tried, 100k docs packed into 2 buckets/lists (~21 MB of postings in
# 0.24 s against 1.7 s on Spark, ~13 MB of lists in 0.16 s against
# 0.56 s). Perfbench's probes read ~11 KB (BM25) and ~37 KB (IVF).
LOCAL_PROBE_MAX_BYTES = 16 << 20

# A cap on driver memory, not a measured crossover. The most decoded Arrow
# bytes :func:`read_files` keeps across probes; a table larger than this
# is not kept, and the least recently read tables are dropped first. It
# holds the decoded input of about half the largest probe the cap above
# admits (postings decode to up to 7.0x their parquet bytes, see above),
# and thousands of perfbench's probes, which read ~11 KB and ~37 KB.
LOCAL_PROBE_CACHE_BYTES = 64 << 20


# Spark types whose values Arrow's ``to_pylist()`` gives exactly as
# Spark's ``collect()`` does, NULL as None
_PYLIST_TYPES = (
    BooleanType, ByteType, ShortType, IntegerType, LongType, FloatType,
    DoubleType, StringType,
)


class ArrowFrame(ClassicDataFrame):
    """A driver-path probe's top-k: a DataFrame that holds its rows as an
    Arrow table. ``collect()`` builds its Rows from the Arrow columns,
    ``count()`` is the table's row count and ``schema`` is pre-set, so
    none of them calls the JVM. Every other method reaches the JVM local
    relation, which ``spark.createDataFrame(table, schema)`` builds on
    first use. Made only by :func:`arrow_frame`."""

    def __new__(cls, spark: SparkSession, table: pa.Table, schema: StructType):
        return object.__new__(cls)

    def __init__(self, spark: SparkSession, table: pa.Table, schema: StructType):
        # ``schema`` is a functools.cached_property on DataFrame
        self.__dict__["schema"] = schema
        self._table = table
        super().__init__(None, spark)  # its ``_jdf = None`` is the setter's

    @property
    def _jdf(self):
        if self._relation is None:
            self._relation = self.sparkSession.createDataFrame(
                self._table, self.schema
            )._jdf
        return self._relation

    @_jdf.setter
    def _jdf(self, jdf) -> None:
        self._relation = jdf

    def collect(self) -> list[Row]:
        names = self.schema.names
        columns = [c.to_pylist() for c in self._table.columns]
        return [_create_row(names, values) for values in zip(*columns)]

    def count(self) -> int:
        return self._table.num_rows


def arrow_frame(
    spark: SparkSession, table: pa.Table, schema: StructType
) -> DataFrame:
    """``table`` under ``schema`` as a DataFrame: an :class:`ArrowFrame`
    when every column's Spark type is one whose values Arrow gives as
    Spark does, else the JVM local relation
    ``spark.createDataFrame(table, schema)`` built now."""
    if all(isinstance(f.dataType, _PYLIST_TYPES) for f in schema.fields):
        return ArrowFrame(spark, table, schema)
    return spark.createDataFrame(table, schema)


class PartFile(str):
    """A listed file's path, with the ``(st_ino, st_size, st_mtime_ns)``
    of the stat taken when it was listed: :func:`read_files` checks its
    cached table against it."""

    sig: tuple[int, int, int]


def _sig(st: os.stat_result) -> tuple[int, int, int]:
    return st.st_ino, st.st_size, st.st_mtime_ns


def _listed(path: str, st: os.stat_result) -> PartFile:
    f = PartFile(path)
    f.sig = _sig(st)
    return f


def probed_files(
    root: str, column: str, values: Iterable[object]
) -> list[str] | None:
    """The parquet files of the ``root/column=value`` directories, or None
    when they total ``LOCAL_PROBE_MAX_BYTES`` or more, or hold no file
    (see :func:`capped_files`)."""
    files = capped_files(os.path.join(root, f"{column}={v}") for v in values)
    return files or None


def capped_files(dirs: Iterable[str]) -> list[str] | None:
    """The files directly in ``dirs`` as :class:`PartFile` paths, or None
    when they total ``LOCAL_PROBE_MAX_BYTES`` or more. A missing
    directory holds no rows. Subdirectories are skipped, and so are names
    starting with ``_`` or ``.`` (``_SUCCESS``, ``.crc`` files), as
    Spark's file index skips them."""
    files, total = [], 0
    for d in dirs:
        try:
            with os.scandir(d) as it:
                entries = [
                    e for e in it
                    if not e.name.startswith(("_", ".")) and e.is_file()
                ]
        except FileNotFoundError:
            continue
        for e in entries:
            st = e.stat()
            files.append(_listed(e.path, st))
            total += st.st_size
    return files if total < LOCAL_PROBE_MAX_BYTES else None


# (path, columns) -> (sig, table, table.nbytes), least recently read first
_CACHE: OrderedDict[
    tuple[str, tuple[str, ...]], tuple[tuple[int, int, int], pa.Table, int]
] = OrderedDict()
_CACHE_LOCK = threading.Lock()
_cache_bytes = 0


def _read_part(path: str, columns: tuple[str, ...]) -> pa.Table:
    """One file's ``columns``: the cached table when ``path`` still has
    the stat it was cached under, else read, decoded and kept."""
    global _cache_bytes
    sig = getattr(path, "sig", None) or _sig(os.stat(path))
    key = (str(path), columns)
    with _CACHE_LOCK:
        hit = _CACHE.get(key)
        if hit is not None and hit[0] == sig:
            _CACHE.move_to_end(key)
            return hit[1]
    table = pq.read_table(path, columns=list(columns))
    size = table.nbytes
    with _CACHE_LOCK:
        old = _CACHE.pop(key, None)
        if old is not None:
            _cache_bytes -= old[2]
        if size <= LOCAL_PROBE_CACHE_BYTES:
            _CACHE[key] = (sig, table, size)
            _cache_bytes += size
        while _cache_bytes > LOCAL_PROBE_CACHE_BYTES:
            _cache_bytes -= _CACHE.popitem(last=False)[1][2]
    return table


def read_files(files: Sequence[str], columns: list[str]) -> pa.Table | None:
    """The files' ``columns`` as one table, or None when their schemas
    differ (an append wrote another id type): Spark's reader reconciles
    those, so the probe takes the Spark path. Each file's table comes
    from the process-wide cache (see the module docstring)."""
    tables = [_read_part(f, tuple(columns)) for f in files]
    if any(not t.schema.equals(tables[0].schema) for t in tables[1:]):
        return None
    return pa.concat_tables(tables)


def cast_to_stored(
    df: DataFrame, col: str, root: str, stored_col: str
) -> DataFrame:
    """``df`` with ``col`` cast to the type ``stored_col`` has in the
    index files under ``root``, so an append never leaves files of two
    schemas (Spark's probe reads one footer's schema and fails on the
    other files). The type comes from the Spark schema in the footer of
    the first part file found: no Spark job runs."""
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        parts = sorted(f for f in filenames if not f.startswith(("_", ".")))
        if not parts:
            continue
        footer = pq.read_schema(os.path.join(dirpath, parts[0])).metadata or {}
        row = footer.get(b"org.apache.spark.sql.parquet.row.metadata")
        if row is None:
            return df
        schema = StructType.fromJson(json.loads(row))
        want = schema[stored_col].dataType
        if df.schema[col].dataType == want:
            return df
        return df.withColumn(col, F.col(col).cast(want))
    return df


def has_nulls(table: pa.Table) -> bool:
    """Whether any column, or any element of a list column, is NULL. The
    driver path leaves those rows to the Spark path's NULL semantics."""
    for col in table.columns:
        if col.null_count:
            return True
        if pa.types.is_list(col.type) and any(
            chunk.flatten().null_count for chunk in col.chunks
        ):
            return True
    return False


def left_fold_sum(terms: np.ndarray) -> np.ndarray:
    """Row sums ``0.0 + t0 + t1 + …``, one IEEE add at a time: the op
    order of ``aggregate(zip_with(…), 0.0, (acc, v) -> acc + v)``.
    (``np.sum`` adds pairwise and would round differently.)"""
    zero = np.zeros((terms.shape[0], 1))
    return np.add.accumulate(np.hstack([zero, terms]), axis=1)[:, -1]


def top_k_order(score: np.ndarray, ids: np.ndarray, k: int) -> np.ndarray:
    """Row positions of ``ORDER BY score DESC NULLS LAST, id ASC LIMIT
    k``, with NULL scores given as NaN. ``0.0`` and ``-0.0`` tie, as in
    Spark's ordering."""
    null = np.isnan(score)
    return np.lexsort((ids, -np.where(null, 0.0, score), null))[:k]

