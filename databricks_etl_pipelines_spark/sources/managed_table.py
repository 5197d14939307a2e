"""Versioned managed tables: Delta-like MERGE / history / time travel on
plain parquet.

The reference relies on Delta Lake for keyed MERGE upserts (02:174-184),
DESCRIBE HISTORY and VERSION AS OF (01:252, 03:222), and append/overwrite
sinks. This module provides the same capability surface on plain parquet
with a minimal version-directory layout; it does not use delta-spark.

Layout:  <root>/_v{N}/part-*.parquet  +  <root>/_log.json (version manifest)

Every version is made by ``ManagedTable._commit``: it picks ``N``, writes
``_v{N}``, carries untouched buckets over and appends the manifest entry.

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
ones with pyarrow; ``create_or_overwrite`` also takes a ``pyarrow.Table``.
At this size a Spark commit's cost is fixed per job, not data. Both paths
end in ``_commit``, which writes files Spark reads with the same schema
(microsecond timestamps, no Arrow schema blob) and stamps the version's schema
into the manifest, so the next commit needs no Spark job to learn it.
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
    boundaries ≤ value (approxQuantile on the driver — distributed sketch,
    no full sort), then the per-column codes are bit-interleaved so files
    sorted by the result cover a narrow hyper-rectangle in EVERY cluster
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

    codes = []
    for c in cols:
        dtype = dict(df.dtypes)[c]
        x = F.col(c)
        if dtype == "date":
            x = x.cast("timestamp")
        x = x.cast("double")
        bounds = sorted(
            set(df.select(x.alias("__zq")).approxQuantile("__zq", qs, 0.001))
        )
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

    def latest_meta(self, having: str | None = None) -> dict | None:
        """Latest commit's manifest entry (version/operation/timestamp plus
        any operation metadata) as a plain dict, or ``None`` for a table
        with no commits — the driver-side hook replay-aware writers use to
        read fold markers without a Spark scan. The entry and its metadata
        land in ONE atomic ``_write_log`` (os.replace), so a marker is
        never observable without the table version it stamps.

        ``having`` scans the manifest BACKWARDS for the newest entry
        carrying that metadata key (``None`` if no entry carries it).
        Replay-aware writers use ``having="fold_checkpoint"`` so a
        maintenance commit (vacuum flag, optimize/compact, an explicit
        append/merge) between two folds does not shadow the fold markers —
        the newest-entry-only read silently degraded a fold-stamped gold
        to an unstamped bootstrap, double-folding replayed batches.

        A key stamped with an explicit ``None`` is a TOMBSTONE: the
        backward scan stops there and returns that entry (whose value
        reads as "no marker"), so a deliberate owner-side
        :meth:`create_or_overwrite` CLEARS earlier fold markers instead
        of letting a restarted stream resurrect a stale high-water mark
        (see :meth:`create_or_overwrite`)."""
        log = _read_log(self.root)
        if having is None:
            return dict(log[-1]) if log else None
        for entry in reversed(log):
            if having in entry:
                return dict(entry)
        return None

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

    def history(self, spark: SparkSession) -> DataFrame:
        """DESCRIBE HISTORY equivalent: one row per committed version."""
        return spark.createDataFrame(
            [
                (e["version"], e["operation"], e["timestamp"], e.get("rows", -1))
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
        data: DataFrame | pa.Table,
        operation: str,
        partition_by: Sequence[str] | None = None,
        meta: dict | None = None,
        spec: tuple[list[str], int] | None = None,
        touched: Sequence[int] | None = None,
    ) -> int:
        """Write ``data`` as version N+1 and append its manifest entry — the
        one place a version is made.

        ``data`` is a DataFrame, which Spark writes, or a ``pyarrow.Table``
        built on the driver, which is written with pyarrow (see
        ``_write_arrow``; a bucketed one carries its bucket column and
        takes no ``partition_by``).

        ``spec=(keys, n_buckets)`` writes the bucket layout: the bucket
        column is computed if ``data`` lacks it, and the shuffle is aligned
        with the layout (partition by bucket before the partitioned write,
        so each bucket dir is written by its own task: ~1 file per bucket
        instead of shuffle.partitions files per bucket). ``touched`` makes
        it a pruned commit: ``data`` holds only those buckets, and every
        other bucket of the previous version is carried over by hardlink —
        no data IO, and a pytest can assert byte-identity across
        versions.

        The entry stamps the written schema (see ``_schema_json``)."""
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
        if isinstance(data, pa.Table):
            schema = from_arrow_schema(data.schema)
            _write_arrow(data, path)
        else:
            if spec:
                if BUCKET_COL not in data.columns:
                    data = data.withColumn(BUCKET_COL, _bucket_expr(keys, n_buckets))
                width = n_buckets if touched is None else max(len(touched), 1)
                data = data.repartition(width, BUCKET_COL)
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
        log.append(entry)
        _write_log(self.root, log)
        return v

    def _touched_buckets(
        self, spark: SparkSession, rows: DataFrame, keys: list[str], n_buckets: int
    ) -> tuple[DataFrame, list[int], DataFrame]:
        """``rows`` with its bucket column, the sorted bucket ids it hashes
        into, and the latest version's rows in those buckets (bucket column
        kept). The id set is at most n_buckets small ints via one distinct —
        bounded driver traffic regardless of table or input size."""
        rows = rows.withColumn(BUCKET_COL, _bucket_expr(keys, n_buckets))
        touched = sorted(r[0] for r in rows.select(BUCKET_COL).distinct().collect())
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
        self, rows: DataFrame, spec: tuple[list[str], int] | None, op: str
    ) -> tuple[pa.Table, list[int] | None, pa.Table] | None:
        """The driver path's twin of :meth:`_touched_buckets`: ``rows``
        collected as Arrow in the table's column order (with its bucket
        column when ``spec`` is set),
        the sorted bucket ids it touches, and the latest version's rows in
        those buckets (every row when unbucketed), cast to the collected
        Arrow schema. None when the Spark path must run: no stored schema,
        a type outside ``_flat_atomic``, drifted column names, a partitioned
        layout, more than :data:`CAP_ROWS` rows (a cap on rows, not
        bytes), or prior files over ``local_probe.LOCAL_PROBE_MAX_BYTES``.
        A shared column whose type changed raises as the Spark path does.
        Runs one Spark job, the collect; the checks that need no job run
        before it."""
        stored = self._stored_schema()
        incoming = rows.schema
        if stored is None or not (_flat_atomic(stored) and _flat_atomic(incoming)):
            return None
        if set(stored.names) != set(incoming.names):
            return None
        _check_type_drift(stored, incoming, op)
        vdir = self._version_dir(self.latest_version())
        if spec:
            rows = rows.withColumn(BUCKET_COL, _bucket_expr(*spec))
        else:
            files = None if _partitioned(vdir) else local_probe.capped_files([vdir])
            if files is None:
                return None
        src = rows.limit(CAP_ROWS + 1).toArrow()
        if src.num_rows > CAP_ROWS:
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
        return src, touched, _read_arrow(files, src.schema)

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
        meta: dict | None = None,
        reset_fold_markers: bool = True,
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

        ``meta`` = extra keys stamped into this commit's manifest entry
        (atomic with the version — see :meth:`latest_meta`); replay-aware
        writers use it as a fold marker.

        An overwrite WITHOUT an explicit fold marker is a deliberate
        state reset by the table's owner, so it stamps a
        ``fold_checkpoint: None`` TOMBSTONE: the backward marker scan
        stops there and any prior fold high-water mark is cleared —
        otherwise an owner who overwrites the gold to reset state and
        restarts the stream on a fresh checkpoint (batch ids back at 0)
        would have those batches silently dropped as "replays" of the
        resurrected old mark. Maintenance commits (append / merge /
        optimize) do NOT tombstone — they must stay invisible to the
        markers (see :meth:`latest_meta`).

        Caveat: an overwrite that REBUILDS the gold from fact history
        while a live stream keeps folding on its existing checkpoint is
        NOT a reset — if the rebuild already includes an in-flight
        batch's data, clearing the marker lets a crash-redelivered copy
        of that batch fold a second time. No marker scheme can infer
        that intent, so it must be declared, either way:

        * re-stamp the live marker explicitly —
          ``meta={"fold_checkpoint": ckpt, "fold_batch_id":
          last_folded_id}`` (an explicit marker suppresses the
          tombstone); or
        * pass ``reset_fold_markers=False`` — no tombstone is stamped
          and the backward marker scan keeps seeing the pre-rebuild
          marker (the overwrite behaves as a maintenance commit w.r.t.
          fold state), for rebuilders that cannot restate the exact
          batch id.

        Because the default (tombstone) silently changes replay
        semantics for a gold that HAS a live marker, that case emits a
        ``RuntimeWarning`` naming both escape hatches — a reset of an
        unmarked table stays silent.
        """
        if isinstance(df, pa.Table) and (
            bucket_by or partition_by or not _flat_atomic(from_arrow_schema(df.schema))
        ):
            raise ValueError(
                "a pyarrow.Table is written unbucketed and unpartitioned, "
                "with flat atomic columns only"
            )
        meta = dict(meta or {})
        if "fold_checkpoint" not in meta and reset_fold_markers:
            prior = self.latest_meta(having="fold_checkpoint") if self.exists() else None
            if prior is not None and prior.get("fold_checkpoint") is not None:
                warnings.warn(
                    f"create_or_overwrite({self.root}) is tombstoning a live "
                    f"fold marker (checkpoint={prior['fold_checkpoint']!r}, "
                    f"batch_id={prior.get('fold_batch_id')!r}): a stream that "
                    "keeps folding on that checkpoint loses crash-redelivery "
                    "replay protection. If this overwrite REBUILDS (not "
                    "resets) the gold, re-stamp the marker via meta="
                    "{'fold_checkpoint': ..., 'fold_batch_id': ...} or pass "
                    "reset_fold_markers=False to preserve it.",
                    RuntimeWarning,
                    stacklevel=2,
                )
            meta["fold_checkpoint"] = None  # reset tombstone
        if bucket_by and partition_by:
            raise ValueError("bucket_by and partition_by are exclusive")
        spec = (list(bucket_by), n_buckets) if bucket_by else None
        return self._commit(df, "overwrite", partition_by, meta, spec)

    def append(
        self,
        df: DataFrame,
        partition_by: Sequence[str] | None = None,
        merge_schema: bool = False,
    ) -> int:
        """``merge_schema`` = Delta's ``mergeSchema``: the committed
        schema becomes the union of old and new columns, absent columns
        null-filled on either side. Without it, drifted schemas fail
        fast. On a bucketed table a widening append pays ONE
        layout-preserving full rewrite (schema changes are rare events;
        every version dir stays single-schema so ordinary reads never
        need parquet schema merging) — subsequent appends/merges are
        pruned again. A small append without ``partition_by`` runs on the
        driver (see the module docstring)."""
        if not self.exists():
            return self._commit(df, "append", partition_by)
        spec = self.bucket_spec()
        if not partition_by:
            local = self._touched_local(df, spec, "append")
            if local is not None:
                incoming, touched, prior = local
                rows = pa.concat_tables([prior, incoming])
                return self._commit(rows, "append", spec=spec, touched=touched)
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
            )
        widened = prior.unionByName(df, allowMissingColumns=drifted)
        meta = {"schema_evolved": True} if spec else None
        return self._commit(widened, "append", partition_by, meta, spec)

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
        source: DataFrame,
        keys: Sequence[str],
        merge_schema: bool = False,
    ) -> int:
        """Keyed upsert: matched keys take the source row, unmatched target
        rows carry over, new source keys insert (Delta MERGE
        whenMatchedUpdateAll/whenNotMatchedInsertAll, 02:174-184).

        Idempotent: replaying the same source is a no-op state-wise, which
        is what makes checkpoint-replayed micro-batches safe.

        On a table created with ``bucket_by=keys``, only buckets containing
        source keys are rewritten; untouched buckets are hardlinked into
        the new version (byte-identical carry-over, no read or write IO).
        A small one runs on the driver (see the module docstring). A pruned
        merge writes the table's column order, whatever the source's.

        ``merge_schema`` = Delta's MERGE ``autoMerge``: drifted source
        schemas widen the table (absent columns null-filled both sides).
        As with :meth:`append`, a widening merge on a bucketed table pays
        one layout-preserving full rewrite so version dirs stay
        single-schema, then prunes again.
        """
        if not self.exists():
            return self._commit(source, "create")
        keys = list(keys)
        spec = self.bucket_spec()
        # float keys stay on Spark, whose join equates NaNs and ±0.0
        dtypes = dict(source.dtypes)
        if spec and spec[0] == keys and not any(
            dtypes.get(k) in ("float", "double") for k in keys
        ):
            local = self._touched_local(source, spec, "merge")
            if local is not None:
                src, touched, target_touched = local
                # an Arrow join never matches a NULL key, as Spark's
                untouched = target_touched.join(
                    src.select(keys), keys, join_type="left anti"
                )
                merged = pa.concat_tables([src, untouched.select(src.column_names)])
                return self._commit(merged, "merge", spec=spec, touched=touched)
        target = self.read(spark)
        drifted = self._drift_gate(target.schema, source.schema, "merge", merge_schema)
        if spec and spec[0] == keys and not drifted:
            src, touched, target_touched = self._touched_buckets(
                spark, source, *spec
            )
            untouched = target_touched.join(
                src.select(*keys).distinct(), keys, "left_anti"
            )
            # the table's column order, so no version mixes two orders
            merged = src.select(*target_touched.columns).unionByName(untouched)
            return self._commit(merged, "merge", spec=spec, touched=touched)
        # Merge keys differ from the bucket spec (or the schema widens) ⇒
        # full rewrite; a bucketed table keeps its layout so later
        # bucket-spec operations stay O(touched buckets).
        untouched = target.join(source.select(*keys).distinct(), keys, "left_anti")
        merged = source.unionByName(untouched, allowMissingColumns=drifted)
        meta = {"schema_evolved": True} if spec and drifted else None
        return self._commit(merged, "merge", meta=meta, spec=spec)

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

