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
insert. Implemented as ``source ∪ (target ⟕anti source on key)`` — one
shuffle on the key, no driver-side collection, scales like any anti join.

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
import warnings
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

BUCKET_COL = "__bucket"


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


def _check_type_drift(prior: DataFrame, incoming: DataFrame, op: str) -> None:
    """Fail fast when a SHARED column changes type (e.g. int → string).

    Name-set drift is handled by the ``merge_schema`` gate, but a
    same-name type change would sail past it and surface later as a
    confusing unionByName/parquet error — or, worse, a silent numeric
    coercion. Delta rejects type changes outside explicit ALTER TABLE for
    the same reason; mirror that with an error naming the offending
    columns and both types. Nullability differences are NOT drift (see
    ``_normalize_nullability``)."""
    prior_types = {
        f.name: _normalize_nullability(f.dataType) for f in prior.schema.fields
    }
    bad = [
        f"{f.name} (table={prior_types[f.name].simpleString()}, "
        f"incoming={f.dataType.simpleString()})"
        for f in incoming.schema.fields
        if f.name in prior_types
        and _normalize_nullability(f.dataType) != prior_types[f.name]
    ]
    if bad:
        raise ValueError(
            f"{op} type drift on shared columns — cast the incoming frame "
            f"explicitly: {'; '.join(bad)}"
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
        df: DataFrame,
        operation: str,
        partition_by: Sequence[str] | None = None,
        meta: dict | None = None,
        spec: tuple[list[str], int] | None = None,
        touched: Sequence[int] | None = None,
    ) -> int:
        """Write ``df`` as version N+1 and append its manifest entry — the
        one place a version is made.

        ``spec=(keys, n_buckets)`` writes the bucket layout: the bucket
        column is computed if ``df`` lacks it, and the shuffle is aligned
        with the layout (partition by bucket before the partitioned write,
        so each bucket dir is written by its own task: ~1 file per bucket
        instead of shuffle.partitions files per bucket). ``touched`` makes
        it a pruned commit: ``df`` holds only those buckets, and every
        other bucket of the previous version is carried over by hardlink —
        no data IO, and a pytest can assert byte-identity across
        versions."""
        log = _read_log(self.root)
        v = (log[-1]["version"] + 1) if log else 0
        path = self._version_dir(v)
        stamps: dict = {}
        if spec:
            keys, n_buckets = spec
            if BUCKET_COL not in df.columns:
                df = df.withColumn(BUCKET_COL, _bucket_expr(keys, n_buckets))
            width = n_buckets if touched is None else max(len(touched), 1)
            df = df.repartition(width, BUCKET_COL)
            partition_by = [BUCKET_COL]
            stamps = {"bucket_keys": list(keys), "n_buckets": n_buckets}
        writer = df.write.mode("overwrite")
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
        entry = {"version": v, "operation": operation, "timestamp": time.time()}
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

    @staticmethod
    def _drift_gate(
        prior: DataFrame, incoming: DataFrame, op: str, merge_schema: bool
    ) -> bool:
        """True if the column NAME sets differ; fails unless
        ``merge_schema``, and on any shared-column type change."""
        drifted = set(prior.columns) != set(incoming.columns)
        if drifted and not merge_schema:
            raise ValueError(
                f"{op} schema drift (use merge_schema=True): "
                f"table={sorted(prior.columns)} "
                f"incoming={sorted(incoming.columns)}"
            )
        _check_type_drift(prior, incoming, op)
        return drifted

    def create_or_overwrite(
        self,
        df: DataFrame,
        partition_by: Sequence[str] | None = None,
        bucket_by: Sequence[str] | None = None,
        n_buckets: int = 16,
        meta: dict | None = None,
        reset_fold_markers: bool = True,
    ) -> int:
        """``partition_by`` = hive-style layout (reference S2 partitions
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
        pruned again."""
        if not self.exists():
            return self._commit(df, "append", partition_by)
        spark = df.sparkSession
        spec = self.bucket_spec()
        prior = self.read(spark)
        drifted = self._drift_gate(prior, df, "append", merge_schema)
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
        target = self.read(spark)
        drifted = self._drift_gate(target, source, "merge", merge_schema)
        if spec and spec[0] == keys and not drifted:
            src, touched, target_touched = self._touched_buckets(
                spark, source, *spec
            )
            untouched = target_touched.join(
                src.select(*keys).distinct(), keys, "left_anti"
            )
            return self._commit(
                src.unionByName(untouched), "merge", spec=spec, touched=touched
            )
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

