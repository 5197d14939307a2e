"""Versioned managed tables: Delta-like MERGE / history / time travel on
plain parquet.

The reference relies on Delta Lake for keyed MERGE upserts (02:174-184),
DESCRIBE HISTORY and VERSION AS OF (01:252, 03:222), and append/overwrite
sinks. This module provides the same capability surface on plain parquet
with a minimal version-directory layout; it does not use delta-spark.

Layout:  <root>/_v{N}/part-*.parquet  +  <root>/_log.json (version manifest)

Every version is made by ``ManagedTable._commit``: it picks ``N``, writes
``_v{N}``, carries untouched buckets over and appends the manifest entry.

Idempotent writes: ``append``, ``merge_upsert`` and ``create_or_overwrite``
take ``txn=(app_id, batch_id)`` (Delta's ``txnAppId``/``txnVersion``), which
``_commit`` stamps into the manifest entry as ``"txn"``. A keyed write whose
batch id is at or below the newest one recorded for its app writes nothing;
the lookup stops at the newest keyless overwrite, which resets every key.

Semantics mirrored from Delta MERGE whenMatchedUpdateAll /
whenNotMatchedInsertAll: for keys present in the source, the source row
wins; target rows with unmatched keys carry over; source rows with new keys
insert. Implemented as ``source ∪ (target ⟕anti source on key)``: one
shuffle on the key, which scales like any anti join.

Small commits run on the driver. A pruned MERGE or an append (to a
bucketed or a flat table) whose source has at most :data:`CAP_ROWS` rows
and whose prior files total less than ``local_probe.LOCAL_PROBE_MAX_BYTES``
collects the source in one Spark job (bucket ids still come from Spark's
``xxhash64`` in that projection), reads the prior files and writes the new
ones with pyarrow. ``append`` and ``merge_upsert`` also take a
``pyarrow.Table`` source, as ``create_or_overwrite`` does (on a bucketed
table, collected with the bucket ids ``merge_bucket`` gives): the driver
path commits it with no Spark job at all, and one the driver path cannot
take runs on the Spark path as a local relation. At this size a Spark commit's
cost is fixed per job, not data. Both paths end in ``_commit``, which
writes files Spark reads with the same schema (microsecond timestamps, no
Arrow schema blob) and stamps the version's schema into the manifest, so
the next commit needs no Spark job to learn it. A driver-path append of
no row rewrites nothing: its version hardlinks the previous one's files
(on a bucketed table, as every bucket it does not touch).
Above the caps, or for a layout or a type the driver path does not cover,
the Spark path runs.

Write amplification: a table created with ``bucket_by=keys`` stores each
snapshot hive-partitioned on ``__bucket = pmod(hash(keys), n_buckets)``.
MERGE then rewrites ONLY the buckets containing source keys — the
partition-pruned analog of Delta's file-level rewrite — and carries every
untouched bucket into the new version by hardlink (byte-identical, no IO).
An incremental upsert stream that touches k of N buckets costs O(k/N) of
the table per commit instead of O(table).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
import uuid
import warnings
from collections.abc import Sequence

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    ByteType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructType,
    TimestampType,
)

from databricks_etl_pipelines_spark.operators import local_probe

BUCKET_COL = "__bucket"

# A cap on driver memory, not a measured crossover: the most source rows a
# commit collects to the driver. Past it the source's Arrow copy, the prior
# files (capped by ``local_probe.LOCAL_PROBE_MAX_BYTES``) and the output
# could no longer be assumed small. It counts rows, not bytes: a table of
# wide string or binary rows holds more than its row count suggests. A
# source over the cap has been collected up to CAP_ROWS + 1 rows before
# the Spark path evaluates it again. Perfbench's stream commits 2k rows.
CAP_ROWS = 65_536


def _log_path(root: str) -> str:
    return os.path.join(root, "_log.json")


def _read_log(root: str) -> list[dict]:
    if not os.path.exists(_log_path(root)):
        return []
    with open(_log_path(root)) as f:
        return json.load(f)


def _write_log(root: str, entries: list[dict]) -> None:
    os.makedirs(root, exist_ok=True)
    tmp = _log_path(root) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(entries, f, indent=1)
    os.replace(tmp, _log_path(root))


def _bucket_expr(keys: Sequence[str], n_buckets: int) -> F.Column:
    return F.pmod(F.xxhash64(*keys), F.lit(n_buckets)).cast("int")


def _normalize_nullability(dt):
    """Recursively force nullable=True on nested fields/elements so type
    comparison ignores nullability: parquet read-back marks everything
    nullable, so a freshly-built frame with non-nullable struct fields
    would otherwise spuriously mismatch its own committed schema."""
    from pyspark.sql.types import ArrayType, MapType, StructField, StructType

    if isinstance(dt, StructType):
        return StructType(
            [
                StructField(f.name, _normalize_nullability(f.dataType), True)
                for f in dt.fields
            ]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_normalize_nullability(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(
            _normalize_nullability(dt.keyType),
            _normalize_nullability(dt.valueType),
            True,
        )
    return dt


def _check_type_drift(prior: StructType, incoming: StructType, op: str) -> None:
    """Fail fast when a SHARED column changes type (e.g. int → string).

    Name-set drift is handled by the ``merge_schema`` gate, but a
    same-name type change would sail past it and surface later as a
    confusing unionByName/parquet error — or, worse, a silent numeric
    coercion. Delta rejects type changes outside explicit ALTER TABLE for
    the same reason; mirror that with an error naming the offending
    columns and both types. Nullability differences are NOT drift (see
    ``_normalize_nullability``)."""
    prior_types = {
        f.name: _normalize_nullability(f.dataType) for f in prior.fields
    }
    bad = [
        f"{f.name} (table={prior_types[f.name].simpleString()}, "
        f"incoming={f.dataType.simpleString()})"
        for f in incoming.fields
        if f.name in prior_types
        and _normalize_nullability(f.dataType) != prior_types[f.name]
    ]
    if bad:
        raise ValueError(
            f"{op} type drift on shared columns — cast the incoming frame "
            f"explicitly: {'; '.join(bad)}"
        )


def _schema_json(schema: StructType) -> str:
    """The manifest's ``schema``: the data columns without the bucket
    column, nullability and field metadata dropped. Delta keeps the same
    thing in ``metaData.schemaString``."""
    data = StructType([f for f in schema.fields if f.name != BUCKET_COL])
    return _normalize_nullability(data).json()


def _flat_atomic(schema: StructType) -> bool:
    """Whether every column has a type the driver path writes as Spark
    does. TimestampNTZ is left out: a pyarrow file carries no Spark
    schema, so Spark would read its NTZ column as NTZ only while
    ``spark.sql.parquet.inferTimestampNTZ.enabled`` is on."""
    atomic = (
        BooleanType(), ByteType(), ShortType(), IntegerType(), LongType(),
        FloatType(), DoubleType(), StringType(), BinaryType(), DateType(),
        TimestampType(),
    )
    return all(
        isinstance(f.dataType, DecimalType) or f.dataType in atomic
        for f in schema.fields
    )


def _nullable(schema: pa.Schema) -> pa.Schema:
    return pa.schema([f.with_nullable(True) for f in schema])


def _source_schema(source: DataFrame | pa.Table) -> StructType:
    """A commit source's Spark schema; an Arrow source's bucket column is
    left out, being the table's own (see :meth:`ManagedTable.append`)."""
    if isinstance(source, pa.Table):
        names = [n for n in source.column_names if n != BUCKET_COL]
        return from_arrow_schema(source.select(names).schema)
    return source.schema


def _as_frame(
    source: DataFrame | pa.Table, spark: SparkSession | None = None
) -> DataFrame:
    """The source for the Spark path. An Arrow table becomes a local
    relation, which Spark plans without a scan job, minus its bucket
    column: the Spark path computes its own."""
    if isinstance(source, DataFrame):
        return source
    if BUCKET_COL in source.column_names:
        source = source.drop_columns([BUCKET_COL])
    return (spark or SparkSession.active()).createDataFrame(source)


def _hidden(name: str) -> bool:
    """Whether Spark's file index skips the file or directory ``name``."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def _partitioned(vdir: str) -> bool:
    with os.scandir(vdir) as it:
        return any(e.is_dir() for e in it)


def _read_arrow(files: Sequence[str], schema: pa.Schema) -> pa.Table:
    """The files' rows cast to ``schema``. A file under a ``__bucket=k``
    dir gets its bucket column back when ``schema`` has one. The cast
    reconciles Spark- and pyarrow-written files, which differ in
    nullability and timestamp unit."""
    parts = []
    for f in files:
        t = pq.ParquetFile(f, coerce_int96_timestamp_unit="us").read()
        if BUCKET_COL in schema.names:
            bucket = int(os.path.basename(os.path.dirname(f)).split("=", 1)[1])
            t = t.append_column(
                BUCKET_COL, pa.repeat(pa.scalar(bucket, pa.int32()), t.num_rows)
            )
        parts.append(t.select(schema.names).cast(schema))
    return pa.concat_tables(parts) if parts else schema.empty_table()


def _write_arrow(table: pa.Table, path: str) -> None:
    """Write ``table`` as Spark would: one part file, or one per
    ``__bucket=k`` dir when it has a bucket column. Microsecond
    timestamps, because Spark rejects pyarrow's nanosecond ones; no Arrow
    schema blob, which would double a small file's footer; dictionary encoding
    only where it pays, as parquet-mr falls back to plain encoding for
    mostly-distinct columns."""
    os.makedirs(path, exist_ok=True)
    if BUCKET_COL in table.column_names:
        ids = table[BUCKET_COL]
        for b in pc.unique(ids).to_pylist():
            part = table.filter(pc.equal(ids, b)).drop_columns([BUCKET_COL])
            _write_arrow(part, os.path.join(path, f"{BUCKET_COL}={b}"))
        return
    table = table.cast(_nullable(table.schema))
    dictionary = [
        name
        for name, col in zip(table.column_names, table.columns)
        if 2 * pc.count_distinct(col).as_py() < table.num_rows
    ]
    pq.write_table(
        table,
        os.path.join(path, f"part-00000-{uuid.uuid4()}.c000.snappy.parquet"),
        compression="snappy",
        use_dictionary=dictionary,
        coerce_timestamps="us",
        store_schema=False,
    )


def _zorder_value(
    df: DataFrame, cols: Sequence[str], bits: int = 8
) -> F.Column:
    """Interleaved-bit Z-value over quantile codes of the cluster columns.

    Each column is coded to ``bits`` bits by counting sampled quantile
    boundaries ≤ value (one approxQuantile job over every cluster column —
    a distributed sketch per column, no full sort), then the per-column
    codes are bit-interleaved so files sorted by the result cover a
    narrow hyper-rectangle in EVERY cluster
    dimension — multi-column data skipping, where linear range clustering
    only narrows the leading key. This is the space-filling-curve layout
    Delta's OPTIMIZE ZORDER BY computes (reference claim: 03:207-216).
    """
    n_bounds = (1 << bits) - 1
    qs = [(i + 1) / (n_bounds + 1) for i in range(n_bounds)]

    def _boundary_counter(x: F.Column):
        # factory, NOT a default-arg lambda: PySpark HOFs dispatch on the
        # callable's arity, so `lambda acc, bd, _x=x:` would be read as a
        # 3-parameter merge function (see round-1 MinHash permutation bug)
        def merge(acc: F.Column, bd: F.Column) -> F.Column:
            return acc + F.when(x >= bd, 1).otherwise(0)

        return merge

    dtypes = dict(df.dtypes)
    xs = []
    for c in cols:
        x = F.col(c)
        if dtypes[c] == "date":
            x = x.cast("timestamp")
        xs.append(x.cast("double"))
    aliases = [f"__zq{j}" for j in range(len(cols))]
    quantiles = df.select(
        *[x.alias(a) for x, a in zip(xs, aliases)]
    ).approxQuantile(aliases, qs, 0.001)
    codes = []
    for x, qv in zip(xs, quantiles):
        bounds = sorted(set(qv))
        arr = F.array(*[F.lit(float(b)) for b in bounds])
        raw = F.aggregate(arr, F.lit(0), _boundary_counter(x))
        # scale to the full bit range: a low-cardinality column would
        # otherwise occupy only its low bits and lose the interleave
        codes.append(
            F.floor(raw * ((1 << bits) - 1) / F.lit(len(bounds))).cast("bigint")
        )
    ncols = len(cols)
    z = F.lit(0).cast("bigint")
    for j, code in enumerate(codes):
        for i in range(bits):
            z = z + (
                F.shiftleft(
                    F.shiftright(code.cast("bigint"), i).bitwiseAND(F.lit(1)),
                    i * ncols + j,
                )
            )
    return z


def _repeated_key_error(keys: Sequence[str], values: Sequence[object]) -> ValueError:
    named = ", ".join(f"{k}={v!r}" for k, v in zip(keys, values))
    return ValueError(
        f"merge_upsert: key ({named}) appears more than once in the source; "
        "a MERGE takes at most one source row per key"
    )


def _repeated_arrow_key(table: pa.Table, keys: Sequence[str]) -> tuple | None:
    """The first non-NULL key of ``table`` that appears more than once, or
    None. A key with a NULL matches no row, so it may repeat."""
    counts = (
        table.select(keys).drop_null()
        .group_by(keys, use_threads=False)
        .aggregate([([], "count_all")])
    )
    repeated = counts.filter(pc.field("count_all") > 1)
    if not repeated.num_rows:
        return None
    return tuple(repeated.column(k)[0].as_py() for k in keys)


def _link_tree(src_dir: str, dst_dir: str) -> None:
    """Hardlink every file under src_dir into dst_dir (copy on link failure).
    Used to carry untouched buckets across versions byte-identically."""
    for dirpath, _dirnames, filenames in os.walk(src_dir):
        rel = os.path.relpath(dirpath, src_dir)
        out = os.path.join(dst_dir, rel) if rel != "." else dst_dir
        os.makedirs(out, exist_ok=True)
        for fn in filenames:
            s, d = os.path.join(dirpath, fn), os.path.join(out, fn)
            try:
                os.link(s, d)
            except OSError:  # pragma: no cover - cross-device fallback
                shutil.copy2(s, d)


class ManagedTable:
    """A versioned parquet table rooted at a directory."""

    def __init__(self, root: str):
        self.root = root

    # -- reads --------------------------------------------------------------

    def exists(self) -> bool:
        return bool(_read_log(self.root))

    def latest_version(self) -> int:
        log = _read_log(self.root)
        if not log:
            raise FileNotFoundError(f"no versions at {self.root}")
        return log[-1]["version"]

    def _last_txn(self, app_id: str | None = None) -> dict | None:
        """The newest manifest entry keyed by ``app_id`` (by any app when
        None), or None. The scan stops at the newest keyless overwrite,
        which resets every key."""
        for entry in reversed(_read_log(self.root)):
            if "txn" in entry:
                if app_id is None or entry["txn"][0] == app_id:
                    return entry
            elif entry["operation"] == "overwrite":
                return None
        return None

    def _committed(self, txn: tuple[str, int] | None) -> bool:
        """Whether a write keyed by ``txn`` already landed: its batch id is
        at or below the newest one recorded for its app."""
        last = self._last_txn(txn[0]) if txn else None
        return last is not None and txn[1] <= last["txn"][1]

    def _version_dir(self, v: int) -> str:
        return os.path.join(self.root, f"_v{v}")

    def _read_internal(
        self, spark: SparkSession, version: int | None = None
    ) -> DataFrame:
        v = self.latest_version() if version is None else version
        if not os.path.isdir(self._version_dir(v)):
            raise FileNotFoundError(
                f"version {v} of {self.root} is not on disk (vacuumed?)"
            )
        return spark.read.parquet(self._version_dir(v))

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Read the table; ``version`` = time travel (VERSION AS OF)."""
        df = self._read_internal(spark, version)
        return df.drop(BUCKET_COL) if BUCKET_COL in df.columns else df

    def read_for_keys(
        self, spark: SparkSession, keys_df: DataFrame, keys: Sequence[str]
    ) -> DataFrame:
        """Rows whose key appears in ``keys_df``. On a table bucketed by
        ``keys`` only the buckets those keys hash into are scanned (the
        bounded <=n_buckets-int driver list used by pruned MERGE/DELETE);
        otherwise a full scan feeds the semi join. The incremental-dim
        operators (operators/scd.py) build their touched-key reads on
        this."""
        keys = list(keys)
        want = keys_df.select(*keys).distinct()
        spec = self.bucket_spec()
        if spec and spec[0] == keys:
            _, _, prior = self._touched_buckets(spark, want, *spec)
            base = prior.drop(BUCKET_COL)
        else:
            base = self.read(spark)
        return base.join(want, keys, "left_semi")

    def num_rows(self, version: int | None = None) -> int:
        """Rows in ``version`` (the latest when None), summed from its
        parquet footers with pyarrow: no Spark job runs. -1 when the
        version is not on disk (vacuumed)."""
        v = self.latest_version() if version is None else version
        vdir = self._version_dir(v)
        if not os.path.isdir(vdir):
            return -1
        rows = 0
        for dirpath, dirnames, filenames in os.walk(vdir):
            dirnames[:] = [d for d in dirnames if not _hidden(d)]
            for fn in filenames:
                if not _hidden(fn):
                    rows += pq.read_metadata(os.path.join(dirpath, fn)).num_rows
        return rows

    def history(self, spark: SparkSession) -> DataFrame:
        """DESCRIBE HISTORY equivalent: one row per committed version, with
        its row count from :meth:`num_rows` (-1 once vacuumed)."""
        return spark.createDataFrame(
            [
                (e["version"], e["operation"], e["timestamp"],
                 self.num_rows(e["version"]))
                for e in _read_log(self.root)
            ],
            "version INT, operation STRING, timestamp DOUBLE, rows LONG",
        )

    def bucket_spec(self) -> tuple[list[str], int] | None:
        """(keys, n_buckets) if the latest version is hash-bucketed."""
        log = _read_log(self.root)
        if log and "bucket_keys" in log[-1]:
            return list(log[-1]["bucket_keys"]), int(log[-1]["n_buckets"])
        return None

    def _merge_spec(
        self, keys: Sequence[str], n_buckets: int | None = None
    ) -> tuple[list[str], int] | None:
        """The bucket layout a MERGE on ``keys`` prunes by: the table's own
        if it is bucketed on exactly ``keys``; for a table not created yet,
        ``n_buckets`` buckets on ``keys`` if given; else None."""
        if not self.exists():
            return (list(keys), n_buckets) if n_buckets else None
        spec = self.bucket_spec()
        return spec if spec and spec[0] == list(keys) else None

    def merge_bucket(
        self, keys: Sequence[str], n_buckets: int | None = None
    ) -> tuple[str, F.Column] | None:
        """The bucket id a MERGE on ``keys`` prunes by, as a (name, Column)
        pair to add to a source before collecting it: the layout of
        :meth:`_merge_spec`, which for a table not created yet is the one
        ``create_or_overwrite(bucket_by=keys, n_buckets=n_buckets)``
        writes. None when a MERGE on ``keys`` is not bucket-pruned. A
        collected source that carries it can feed :meth:`merge_upsert` or
        :meth:`append` as a ``pyarrow.Table`` on the driver path."""
        spec = self._merge_spec(keys, n_buckets)
        return (BUCKET_COL, _bucket_expr(*spec)) if spec else None

    def vacuum(self, keep_last: int = 1) -> list[int]:
        """Delta VACUUM analog: drop all but the newest ``keep_last``
        versions — the retention boundary after which DELETEd rows are
        physically unrecoverable (until then, time travel can still read
        them for audit).

        Safe with hardlink carry-over BY CONSTRUCTION: a file shared into
        a retained version is the same inode under the retained version's
        directory, so removing the old directory only drops a link count —
        never bytes a live version can reach. Returns the vacuumed
        version numbers; their history entries are retained but flagged
        ``vacuumed`` (lineage stays auditable, data does not).
        """
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        log = _read_log(self.root)
        if not log:
            return []
        cutoff = log[-1]["version"] - keep_last + 1
        dropped: list[int] = []
        for entry in log:
            v = entry["version"]
            if v < cutoff and not entry.get("vacuumed"):
                vdir = self._version_dir(v)
                if os.path.isdir(vdir):
                    shutil.rmtree(vdir)
                # The vacuumed flag is the GDPR retention boundary — it must
                # only ever claim rows are unrecoverable when the bytes are
                # actually gone, so verify the removal before flagging.
                if os.path.isdir(vdir):
                    _write_log(self.root, log)
                    raise OSError(f"vacuum failed to remove {vdir}")
                entry["vacuumed"] = True
                dropped.append(v)
        _write_log(self.root, log)
        return dropped

    # -- writes -------------------------------------------------------------

    def _commit(
        self,
        data: DataFrame | pa.Table | None,
        operation: str,
        partition_by: Sequence[str] | None = None,
        meta: dict | None = None,
        spec: tuple[list[str], int] | None = None,
        touched: Sequence[int] | None = None,
        txn: tuple[str, int] | None = None,
    ) -> int:
        """Write ``data`` as version N+1 and append its manifest entry — the
        one place a version is made.

        ``data`` is a DataFrame, which Spark writes, or a ``pyarrow.Table``
        built on the driver, which is written with pyarrow (see
        ``_write_arrow``; a bucketed one carries its bucket column and
        takes no ``partition_by``).

        ``spec=(keys, n_buckets)`` writes the bucket layout: the bucket
        column is computed if ``data`` lacks it, and the shuffle is aligned
        with the layout (hash-partition by bucket before the partitioned
        write, so each bucket dir is written by one task: one file per
        bucket instead of one per shuffle partition, in as many tasks as
        AQE sizes the data to). ``touched`` makes
        it a pruned commit: ``data`` holds only those buckets, and every
        other bucket of the previous version is carried over by hardlink —
        no data IO, and a pytest can assert byte-identity across
        versions. ``data=None`` carries the whole previous version of an
        unbucketed table over by hardlink, with its schema: the commit of
        an append that adds no row, which still records ``txn``.

        The entry stamps the written schema (see ``_schema_json``) and
        ``txn``, which the public writers check before they call here."""
        log = _read_log(self.root)
        v = (log[-1]["version"] + 1) if log else 0
        path = self._version_dir(v)
        stamps: dict = {}
        if spec:
            keys, n_buckets = spec
            partition_by = [BUCKET_COL]
            stamps = {"bucket_keys": list(keys), "n_buckets": n_buckets}
        # a failed attempt may have left files at N, which the Spark
        # writer's overwrite mode would clear too
        shutil.rmtree(path, ignore_errors=True)
        if data is None:
            _link_tree(self._version_dir(log[-1]["version"]), path)
            schema = StructType.fromJson(json.loads(log[-1]["schema"]))
        elif isinstance(data, pa.Table):
            schema = from_arrow_schema(data.schema)
            _write_arrow(data, path)
        else:
            if spec:
                if BUCKET_COL not in data.columns:
                    data = data.withColumn(BUCKET_COL, _bucket_expr(keys, n_buckets))
                data = data.repartition(BUCKET_COL)
            schema = data.schema
            writer = data.write.mode("overwrite")
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            writer.parquet(path)
        if touched is not None:
            touched_set = set(touched)
            prev_dir = self._version_dir(log[-1]["version"])
            for bdir in glob.glob(os.path.join(prev_dir, f"{BUCKET_COL}=*")):
                if int(bdir.rsplit("=", 1)[1]) not in touched_set:
                    _link_tree(bdir, os.path.join(path, os.path.basename(bdir)))
            stamps["buckets_rewritten"] = len(touched)
        entry = {
            "version": v,
            "operation": operation,
            "timestamp": time.time(),
            "schema": _schema_json(schema),
        }
        entry.update(stamps)
        entry.update(meta or {})
        if txn is not None:
            entry["txn"] = list(txn)
        log.append(entry)
        _write_log(self.root, log)
        return v

    def _touched_buckets(
        self,
        spark: SparkSession,
        rows: DataFrame,
        keys: list[str],
        n_buckets: int,
        unique_keys: bool = False,
    ) -> tuple[DataFrame, list[int], DataFrame]:
        """``rows`` with its bucket column, the sorted bucket ids it hashes
        into, and the latest version's rows in those buckets (bucket column
        kept). The id set is at most n_buckets small ints via one
        aggregate — bounded driver traffic regardless of table or input
        size. With ``unique_keys`` the same job counts each bucket's rows
        of non-NULL keys and their distinct keys, and a repeated key
        raises (:func:`_repeated_key_error`)."""
        rows = rows.withColumn(BUCKET_COL, _bucket_expr(keys, n_buckets))
        if not unique_keys:
            touched = sorted(
                r[0] for r in rows.select(BUCKET_COL).distinct().collect()
            )
        else:
            keyed = F.lit(True)
            for k in keys:
                keyed = keyed & F.col(k).isNotNull()
            stats = rows.groupBy(BUCKET_COL).agg(
                F.count(F.when(keyed, 1)).alias("n"),
                F.count_distinct(*keys).alias("d"),
            ).collect()
            if any(r["n"] != r["d"] for r in stats):
                repeated = (
                    rows.dropna(subset=keys).groupBy(*keys).count()
                    .filter(F.col("count") > 1).first()
                )
                raise _repeated_key_error(keys, repeated[: len(keys)])
            touched = sorted(r[0] for r in stats)
        prior = self._read_internal(spark).filter(F.col(BUCKET_COL).isin(touched))
        return rows, touched, prior

    def _stored_schema(self) -> StructType | None:
        """The latest version's schema from its manifest entry, or None for
        a version committed without one."""
        log = _read_log(self.root)
        if not log or "schema" not in log[-1]:
            return None
        return StructType.fromJson(json.loads(log[-1]["schema"]))

    def _touched_local(
        self,
        source: DataFrame | pa.Table,
        spec: tuple[list[str], int] | None,
        op: str,
    ) -> tuple[pa.Table, list[int] | None, pa.Table] | None:
        """The driver path's twin of :meth:`_touched_buckets`: ``source``
        as Arrow in the table's column order (with its bucket column when
        ``spec`` is set), the sorted bucket ids it touches, and the latest
        version's rows in those buckets (every row when unbucketed, none
        when ``source`` has no row), cast
        to the source's Arrow schema. A DataFrame source is collected in
        one Spark job, the only one; an Arrow source runs none. None when
        the Spark path must run: no stored schema, a type outside
        ``_flat_atomic``, drifted column names, a partitioned layout, an
        Arrow source without the bucket column of a bucketed table, more
        than :data:`CAP_ROWS` rows (a cap on rows, not bytes), or prior
        files over ``local_probe.LOCAL_PROBE_MAX_BYTES``. A shared column
        whose type changed raises as the Spark path does. The checks that
        need no job run before the collect."""
        stored = self._stored_schema()
        incoming = _source_schema(source)
        if stored is None or not (_flat_atomic(stored) and _flat_atomic(incoming)):
            return None
        if set(stored.names) != set(incoming.names):
            return None
        _check_type_drift(stored, incoming, op)
        vdir = self._version_dir(self.latest_version())
        if not spec:
            files = None if _partitioned(vdir) else local_probe.capped_files([vdir])
            if files is None:
                return None
        src = self._collect_local(source, spec)
        if src is None:
            return None
        src = src.select(stored.names + ([BUCKET_COL] if spec else []))
        src = src.cast(_nullable(src.schema))
        touched = None
        if spec:
            touched = sorted(pc.unique(src[BUCKET_COL]).to_pylist())
            files = local_probe.capped_files(
                os.path.join(vdir, f"{BUCKET_COL}={b}") for b in touched
            )
            if files is None:
                return None
        # a source of no rows touches no prior row
        return src, touched, _read_arrow(files if src.num_rows else [], src.schema)

    @staticmethod
    def _collect_local(
        source: DataFrame | pa.Table, spec: tuple[list[str], int] | None
    ) -> pa.Table | None:
        """``source`` as Arrow with its bucket column when ``spec`` is set,
        or None over :data:`CAP_ROWS` rows or for an Arrow source without
        that column. A DataFrame is collected (up to CAP_ROWS + 1 rows)
        with the bucket ids Spark's ``xxhash64`` gives."""
        if isinstance(source, pa.Table):
            if spec and BUCKET_COL not in source.column_names:
                return None
            src = source
        else:
            if spec:
                source = source.withColumn(BUCKET_COL, _bucket_expr(*spec))
            src = source.limit(CAP_ROWS + 1).toArrow()
        return src if src.num_rows <= CAP_ROWS else None

    @staticmethod
    def _drift_gate(
        prior: StructType, incoming: StructType, op: str, merge_schema: bool
    ) -> bool:
        """True if the column NAME sets differ; fails unless
        ``merge_schema``, and on any shared-column type change."""
        drifted = set(prior.names) != set(incoming.names)
        if drifted and not merge_schema:
            raise ValueError(
                f"{op} schema drift (use merge_schema=True): "
                f"table={sorted(prior.names)} "
                f"incoming={sorted(incoming.names)}"
            )
        _check_type_drift(prior, incoming, op)
        return drifted

    def create_or_overwrite(
        self,
        df: DataFrame | pa.Table,
        partition_by: Sequence[str] | None = None,
        bucket_by: Sequence[str] | None = None,
        n_buckets: int = 16,
        txn: tuple[str, int] | None = None,
    ) -> int:
        """``df`` is a DataFrame, or a ``pyarrow.Table`` built on the
        driver, which is written without a Spark job; an Arrow table takes
        neither ``partition_by`` nor ``bucket_by`` and holds only the
        column types of ``_flat_atomic`` (``ValueError`` otherwise).

        ``partition_by`` = hive-style layout (reference S2 partitions
        bronze by ingestion_date, 01:186): time-range queries then prune
        whole directories before the scan (PartitionFilters in .explain).

        ``bucket_by`` = key-hash bucket layout enabling partition-pruned
        MERGE (see module docstring). Mutually exclusive with partition_by.

        ``txn=(app_id, batch_id)`` keys the write (see the module
        docstring): one already recorded returns the latest version. An
        overwrite without ``txn`` is a state reset that ends every key's
        history, so a stream restarted on a fresh checkpoint writes again;
        it warns when the table has keyed commits."""
        if self._committed(txn):
            return self.latest_version()
        if isinstance(df, pa.Table) and (
            bucket_by or partition_by or not _flat_atomic(from_arrow_schema(df.schema))
        ):
            raise ValueError(
                "a pyarrow.Table is written unbucketed and unpartitioned, "
                "with flat atomic columns only"
            )
        if bucket_by and partition_by:
            raise ValueError("bucket_by and partition_by are exclusive")
        if txn is None and self._last_txn() is not None:
            warnings.warn(
                f"create_or_overwrite({self.root}) without txn resets its "
                "idempotency keys: a replayed batch of their streams writes again",
                RuntimeWarning,
                stacklevel=2,
            )
        spec = (list(bucket_by), n_buckets) if bucket_by else None
        return self._commit(df, "overwrite", partition_by, spec=spec, txn=txn)

    def append(
        self,
        df: DataFrame | pa.Table,
        partition_by: Sequence[str] | None = None,
        merge_schema: bool = False,
        txn: tuple[str, int] | None = None,
    ) -> int:
        """``merge_schema`` = Delta's ``mergeSchema``: the committed
        schema becomes the union of old and new columns, absent columns
        null-filled on either side. Without it, drifted schemas fail
        fast. On a bucketed table a widening append pays ONE
        layout-preserving full rewrite (schema changes are rare events;
        every version dir stays single-schema so ordinary reads never
        need parquet schema merging) — subsequent appends/merges are
        pruned again. A small append without ``partition_by`` runs on the
        driver (see the module docstring).

        ``df`` may be a ``pyarrow.Table``, which the driver path takes
        without a Spark job. On a bucketed table it must carry the bucket
        column ``__bucket``, computed by Spark for the table's bucket spec
        (``pmod(xxhash64(keys), n_buckets)`` as an int, the Column
        :meth:`merge_bucket` gives); that column is trusted, not checked.
        Any other Arrow source takes the Spark path as a local relation
        (no scan job), without that column.

        ``txn`` keys the write as in :meth:`create_or_overwrite`."""
        if self._committed(txn):
            return self.latest_version()
        if not self.exists():
            return self._commit(_as_frame(df), "append", partition_by, txn=txn)
        spec = self.bucket_spec()
        if not partition_by:
            local = self._touched_local(df, spec, "append")
            if local is not None:
                incoming, touched, prior = local
                if not spec and not incoming.num_rows:
                    return self._commit(None, "append", txn=txn)
                rows = pa.concat_tables([prior, incoming])
                return self._commit(
                    rows, "append", spec=spec, touched=touched, txn=txn
                )
        df = _as_frame(df)
        spark = df.sparkSession
        prior = self.read(spark)
        drifted = self._drift_gate(prior.schema, df.schema, "append", merge_schema)
        if spec and not drifted:
            # rewrite only buckets receiving new rows (prior bucket contents
            # unioned in) — same O(touched/total) cost as the pruned MERGE
            incoming, touched, prior_touched = self._touched_buckets(
                spark, df, *spec
            )
            return self._commit(
                prior_touched.unionByName(incoming),
                "append",
                spec=spec,
                touched=touched,
                txn=txn,
            )
        widened = prior.unionByName(df, allowMissingColumns=drifted)
        meta = {"schema_evolved": True} if spec else None
        return self._commit(widened, "append", partition_by, meta, spec, txn=txn)

    def optimize(
        self,
        spark: SparkSession,
        cluster_by: Sequence[str] | None = None,
        target_partitions: int | None = None,
    ) -> int:
        """OPTIMIZE / ZORDER BY parity (reference 03:207-216).

        * Compaction: many small files (streaming leaves one per micro-batch)
          → ``target_partitions`` output files via coalesce (no shuffle).
        * ``cluster_by``: range-repartition on the cluster columns + sort
          within each file, so every file covers a narrow slice of the
          cluster-key space and parquet min/max stats skip whole files on
          those predicates — the data-skipping effect Delta's Z-ORDER
          targets (linear clustering; a space-filling curve refines
          multi-column skew, same plan shape).

        Multi-column ``cluster_by`` on orderable (numeric/date/timestamp)
        columns uses a true interleaved-bit Z-value (see ``_zorder_value``)
        so every cluster dimension gets file-level skipping; a single
        column — or any non-orderable column — falls back to linear range
        clustering (identical plan shape, leading-key skipping only).

        Note: optimize rewrites as an unbucketed snapshot (clustering and
        key-hash bucketing are competing layouts; pick one per table).
        """
        df = self.read(spark)
        if cluster_by:
            cols = list(cluster_by)
            n = target_partitions or int(
                spark.conf.get("spark.sql.shuffle.partitions")
            )
            dtypes = dict(df.dtypes)
            orderable = {"tinyint", "smallint", "int", "bigint", "float",
                         "double", "date", "timestamp", "decimal"}
            if len(cols) > 1 and all(
                dtypes[c].split("(")[0] in orderable for c in cols
            ):
                z = _zorder_value(df, cols)
                df = (
                    df.withColumn("__z", z)
                    .repartitionByRange(n, "__z")
                    .sortWithinPartitions("__z")
                    .drop("__z")
                )
            else:
                df = df.repartitionByRange(n, *cols).sortWithinPartitions(*cols)
            return self._commit(df, f"optimize zorder by ({', '.join(cols)})")
        df = df.coalesce(target_partitions or 1)
        return self._commit(df, "optimize compact")

    def merge_upsert(
        self,
        spark: SparkSession,
        source: DataFrame | pa.Table,
        keys: Sequence[str],
        merge_schema: bool = False,
        txn: tuple[str, int] | None = None,
        unique_keys: bool = True,
    ) -> pa.Table | DataFrame | None:
        """Keyed upsert: matched keys take the source row, unmatched target
        rows carry over, new source keys insert (Delta MERGE
        whenMatchedUpdateAll/whenNotMatchedInsertAll, 02:174-184).

        Returns the target rows the source's keys matched, as they were
        before the MERGE (Delta's change-feed pre-images): the Arrow table
        the driver path read, or on the Spark path a lazy DataFrame over
        the prior version, to be read before that version is vacuumed.
        None when the MERGE creates the table or ``txn`` (keyed as in
        :meth:`create_or_overwrite`) already landed.

        Replaying the same source is a no-op state-wise, keyed or not.

        A non-NULL key that appears in more than one source row raises
        ``ValueError`` naming it, as Delta's MERGE fails on a multiple
        match: on the driver path from the collected source, on the
        bucket-pruned Spark path in the job that finds the touched
        buckets. The full-rewrite path and the MERGE that creates the
        table do not check (it would cost them a Spark job).
        ``unique_keys=False`` drops the check for a source that carries
        every row a key should end with (an SCD2 key's rebuilt history):
        each source key's target rows are then replaced by all of its
        source rows.

        On a table created with ``bucket_by=keys``, only buckets containing
        source keys are rewritten; untouched buckets are hardlinked into
        the new version (byte-identical carry-over, no read or write IO).
        A small one runs on the driver (see the module docstring). A pruned
        merge writes the table's column order, whatever the source's.
        ``source`` may be a ``pyarrow.Table``, taken as by :meth:`append`.

        ``merge_schema`` = Delta's MERGE ``autoMerge``: drifted source
        schemas widen the table (absent columns null-filled both sides).
        As with :meth:`append`, a widening merge on a bucketed table pays
        one layout-preserving full rewrite so version dirs stay
        single-schema, then prunes again.
        """
        if self._committed(txn):
            return None
        if not self.exists():
            self._commit(_as_frame(source, spark), "create", txn=txn)
            return None
        keys = list(keys)
        spec = self.bucket_spec()
        keyed = self._merge_spec(keys)
        # float keys stay on Spark, whose join equates NaNs and ±0.0
        dtypes = {f.name: f.dataType for f in _source_schema(source).fields}
        if keyed and not any(
            isinstance(dtypes.get(k), (FloatType, DoubleType)) for k in keys
        ):
            local = self._touched_local(source, keyed, "merge")
            if local is not None:
                src, touched, target_touched = local
                repeated = unique_keys and _repeated_arrow_key(src, keys)
                if repeated:
                    raise _repeated_key_error(keys, repeated)
                # an Arrow join never matches a NULL key, as Spark's
                src_keys = src.select(keys)
                untouched = target_touched.join(src_keys, keys, join_type="left anti")
                matched = target_touched.join(src_keys, keys, join_type="left semi")
                merged = pa.concat_tables([src, untouched.select(src.column_names)])
                self._commit(merged, "merge", spec=keyed, touched=touched, txn=txn)
                return matched.drop_columns([BUCKET_COL])
        source = _as_frame(source, spark)
        target = self.read(spark)
        drifted = self._drift_gate(target.schema, source.schema, "merge", merge_schema)
        if keyed and not drifted:
            src, touched, target_touched = self._touched_buckets(
                spark, source, *keyed, unique_keys
            )
            src_keys = src.select(*keys).distinct()
            untouched = target_touched.join(src_keys, keys, "left_anti")
            # the table's column order, so no version mixes two orders
            merged = src.select(*target_touched.columns).unionByName(untouched)
            self._commit(merged, "merge", spec=keyed, touched=touched, txn=txn)
            return target_touched.join(src_keys, keys, "left_semi").drop(BUCKET_COL)
        # Merge keys differ from the bucket spec (or the schema widens) ⇒
        # full rewrite; a bucketed table keeps its layout so later
        # bucket-spec operations stay O(touched buckets).
        src_keys = source.select(*keys).distinct()
        untouched = target.join(src_keys, keys, "left_anti")
        merged = source.unionByName(untouched, allowMissingColumns=drifted)
        meta = {"schema_evolved": True} if spec and drifted else None
        self._commit(merged, "merge", meta=meta, spec=spec, txn=txn)
        return target.join(src_keys, keys, "left_semi")

    def delete_where(self, spark: SparkSession, condition: F.Column) -> int:
        """DELETE FROM semantics (Delta's ``delete``, absent in the
        reference but implied by its Delta tables): commit a new version
        without the matching rows. History/time-travel keep the deleted
        rows in prior versions until a retention pass drops them.

        Generic predicate ⇒ full rewrite (every bucket may match). For
        key-set deletions on a bucketed table — the GDPR erasure shape —
        use :meth:`delete_keys`, which rewrites only the victims' buckets.
        """
        # SQL DELETE drops only rows where the predicate is TRUE; a NULL
        # predicate keeps the row — so the survivor filter must be
        # NOT coalesce(cond, false), not a bare negation.
        keep = ~F.coalesce(condition, F.lit(False))
        # the raw read keeps a bucketed table's __bucket column, so _commit
        # rewrites the layout without rehashing
        remaining = self._read_internal(spark).filter(keep)
        return self._commit(remaining, "delete", spec=self.bucket_spec())

    def delete_keys(
        self, spark: SparkSession, victims: DataFrame, keys: Sequence[str]
    ) -> int:
        """Erase all rows whose key appears in ``victims`` (one column per
        key). On a table bucketed by ``keys`` only the victims' buckets are
        rewritten (anti-join inside the bucket) and every other bucket
        hardlinks into the new version — right-to-be-forgotten against a
        100 TB table costs O(victim buckets), not a table rewrite.
        """
        keys = list(keys)
        spec = self.bucket_spec()
        if spec and spec[0] == keys:
            vic, touched, target_touched = self._touched_buckets(
                spark, victims, *spec
            )
            surviving = target_touched.join(
                vic.select(*keys).distinct(), keys, "left_anti"
            )
            return self._commit(surviving, "delete", spec=spec, touched=touched)
        # Victim keys don't match the bucket spec ⇒ every bucket may hold a
        # victim, so a full rewrite is unavoidable — but the table's bucket
        # LAYOUT must survive it, or every later merge/delete silently
        # degrades to full-table cost.
        remaining = self.read(spark).join(
            victims.select(*keys).distinct(), keys, "left_anti"
        )
        return self._commit(remaining, "delete", spec=spec)


def _same_file_set(dir_a: str, dir_b: str) -> bool:
    """True iff both dirs hold the same part files as the same inodes
    (hardlink carry-over ⇒ byte-identical without reading a byte)."""
    fa = sorted(glob.glob(os.path.join(dir_a, "part-*")))
    fb = sorted(glob.glob(os.path.join(dir_b, "part-*")))
    if [os.path.basename(f) for f in fa] != [os.path.basename(f) for f in fb]:
        return False
    return all(os.path.samefile(a, b) for a, b in zip(fa, fb))


class ChangeFeed:
    """Change-data-feed analog over ManagedTable versions (Delta CDF shape:
    one row per change with a ``_change_type`` column; an update surfaces
    as delete + insert).

    On bucket_by tables the pruned MERGE/append carry untouched buckets
    across versions as hardlinks, so the diff SKIPS every bucket whose
    files are inode-identical — change extraction cost tracks the buckets
    that actually changed, not the table. Unbucketed tables fall back to a
    full two-sided exceptAll."""

    def __init__(self, table: ManagedTable):
        self.table = table

    def changed_buckets(self, v_from: int, v_to: int) -> list[str] | None:
        """Bucket dir names needing a diff, or None if not bucketed."""
        da = self.table._version_dir(v_from)
        db = self.table._version_dir(v_to)
        a_dirs = {
            os.path.basename(p)
            for p in glob.glob(os.path.join(da, f"{BUCKET_COL}=*"))
        }
        b_dirs = {
            os.path.basename(p)
            for p in glob.glob(os.path.join(db, f"{BUCKET_COL}=*"))
        }
        if not a_dirs and not b_dirs:
            return None
        changed = sorted(
            d
            for d in a_dirs | b_dirs
            if d not in a_dirs
            or d not in b_dirs
            or not _same_file_set(os.path.join(da, d), os.path.join(db, d))
        )
        return changed

    def _read_side(self, spark: SparkSession, version: int, buckets):
        df = self.table._read_internal(spark, version)
        if buckets is not None:
            ids = [int(b.split("=", 1)[1]) for b in buckets]
            df = df.filter(F.col(BUCKET_COL).isin(ids))
        return df.drop(BUCKET_COL) if BUCKET_COL in df.columns else df

    def read_changes(
        self, spark: SparkSession, v_from: int, v_to: int | None = None
    ) -> DataFrame:
        v_to = self.table.latest_version() if v_to is None else v_to
        buckets = self.changed_buckets(v_from, v_to)
        old = self._read_side(spark, v_from, buckets)
        new = self._read_side(spark, v_to, buckets)
        inserts = new.exceptAll(old).withColumn(
            "_change_type", F.lit("insert")
        )
        deletes = old.exceptAll(new).withColumn(
            "_change_type", F.lit("delete")
        )
        return inserts.unionByName(deletes)

