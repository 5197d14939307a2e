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
IEEE op order, and returns its ≤ k rows as a local relation built from
an Arrow table (with or without the session's Arrow conf). No Spark job
runs, neither in the probe nor in the caller's ``.collect()``. Larger
probes take the Spark path unchanged.

Appends read the stored id type the same way, from a part file's footer
(:func:`cast_to_stored`), so an index never holds files of two schemas.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterable, Sequence

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

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


def probed_files(
    root: str, column: str, values: Iterable[object]
) -> list[str] | None:
    """The parquet files of the ``root/column=value`` directories, or None
    when they total ``LOCAL_PROBE_MAX_BYTES`` or more, or hold no file
    (see :func:`capped_files`)."""
    files = capped_files(os.path.join(root, f"{column}={v}") for v in values)
    return files or None


def capped_files(dirs: Iterable[str]) -> list[str] | None:
    """The files directly in ``dirs``, or None when they total
    ``LOCAL_PROBE_MAX_BYTES`` or more. A missing directory holds no
    rows. Subdirectories are skipped, and so are names starting with
    ``_`` or ``.`` (``_SUCCESS``, ``.crc`` files), as Spark's file index
    skips them."""
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
        files += [e.path for e in entries]
        total += sum(e.stat().st_size for e in entries)
    return files if total < LOCAL_PROBE_MAX_BYTES else None


def read_files(files: Sequence[str], columns: list[str]) -> pa.Table | None:
    """The files' ``columns`` as one table, or None when their schemas
    differ (an append wrote another id type): Spark's reader reconciles
    those, so the probe takes the Spark path."""
    tables = [pq.read_table(f, columns=columns) for f in files]
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

