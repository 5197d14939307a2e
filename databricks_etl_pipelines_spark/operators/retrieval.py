"""Persisted text retrieval: an inverted index with BM25 probes.

The production split of ``text_bm25_topk`` (which rescans the corpus per
query): build the posting lists ONCE, hive-partitioned by a word-hash
bucket, persist the two corpus scalars (N, Σdl) as metadata, then answer
every query by reading ONLY the query terms' buckets — a
PartitionFilters prune before any IO, the same layout discipline as
``similarity.IvfIndex``. Postings are denormalized with the document
length (the standard posting-list trick) so a probe never touches a
per-document side table.

At 100 TB the build is two hash aggregates over one corpus scan
(doc-term tf, then per-doc dl joined in) and one partitioned write; each
query then costs IO proportional to the query terms' posting lists, not
the corpus.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_type
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from databricks_etl_pipelines_spark.operators import local_probe


def _kr_fold(s: str) -> int:
    """Driver-side twin of functions.textfns.fingerprint_rolling: the
    Karp-Rabin fold over the md5 HEX digits. Must stay bit-identical to
    the Spark expression — it decides which partitions a probe reads."""
    acc = 0
    for c in hashlib.md5(s.encode("utf-8")).hexdigest():
        acc = (acc * 257 + ord(c)) % 2147483647
    return acc


def _strict_log(spark: SparkSession, x: float) -> float:
    """Driver-side twin of Spark's ``log``, which is
    ``java.lang.StrictMath.log``: called through the Py4J gateway, one
    call per distinct query term. ``math.log`` and ``np.log`` differ from
    StrictMath by 1 ulp on some (N, df) pairs, which can flip a
    ``stable_round`` boundary, so the driver-path idf must use this to
    stay bit-identical to the Spark path (the same parity rule as
    :func:`_kr_fold`)."""
    return float(spark._jvm.java.lang.StrictMath.log(float(x)))


def _underfill_error(
    matched: int, ordered: tuple[str, ...], k: int
) -> ValueError:
    return ValueError(
        f"probe_bm25: only {matched} documents match any of "
        f"{ordered} but k={k} — the indexed top-k would "
        "diverge from the full-scan ranking (which pads with "
        "zero-score docs). Use the full-scan query, lower k, "
        "or pass strict=False to accept fewer rows."
    )


class TornIndexError(RuntimeError):
    """An append started but its commit never landed in the metadata —
    postings may be ahead of (n_docs, Σdl). The index must be rebuilt
    (or the pending batch adjudicated) before probes can be trusted."""


class InvertedTextIndex:
    """Build-once / probe-many BM25 index."""

    POSTINGS = "postings"
    META = "bm25_meta.json"
    PENDING = "pending"

    def __init__(self, root: str):
        self.root = root

    def _check_not_torn(self) -> None:
        """Torn-append detection, O(#pending-files) — no data scan.
        ``append`` writes a pending manifest BEFORE touching postings
        and removes it only AFTER the meta commit names the batch; a
        leftover manifest whose batch id is NOT in meta['batches'] means
        the crash window between posting-append and meta-publish was
        hit (or an append is racing right now) — either way the scalars
        cannot be trusted against the postings, so fail loudly instead
        of returning plausibly-wrong BM25 scores. A leftover manifest
        whose id IS committed (crash after commit, before cleanup) is
        harmless and garbage-collected here."""
        pend_dir = os.path.join(self.root, self.PENDING)
        if not os.path.isdir(pend_dir):
            return
        with open(os.path.join(self.root, self.META)) as f:
            committed = set(json.load(f).get("batches", []))
        for name in os.listdir(pend_dir):
            bid = name.removesuffix(".json")
            if bid in committed:
                # tolerant GC: a concurrent probe may have unlinked it
                # first, and on a read-only mount a probe must still
                # succeed — the leftover is harmless either way
                try:
                    os.unlink(os.path.join(pend_dir, name))
                except OSError:
                    pass
            else:
                raise TornIndexError(
                    f"uncommitted append batch {bid!r} in {pend_dir}: "
                    "postings and corpus scalars may disagree — rebuild "
                    "the index (or delete the manifest ONLY if the "
                    "posting append verifiably never committed)"
                )

    @staticmethod
    def _postings(
        docs: DataFrame, text_col: str, id_col: str, n_buckets: int
    ) -> tuple[DataFrame, DataFrame]:
        """(postings, dl): the bit-compatibility-critical core shared by
        build and append — the bucket hash here MUST stay identical to
        the probe's driver-side :func:`_kr_fold` routing, so it exists
        exactly once."""
        from databricks_etl_pipelines_spark.functions.textfns import (
            fingerprint_rolling,
            token_count,
            tokens,
        )

        words = docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(tokens(text_col)).alias("word"),
        )
        dl = docs.select(
            F.col(id_col).alias("doc_id"),
            token_count(text_col).alias("n_tokens"),
        )
        tf = words.groupBy("doc_id", "word").agg(
            F.count("*").alias("tf")
        )
        postings = tf.join(dl, "doc_id").select(
            "word",
            "doc_id",
            "tf",
            "n_tokens",
            (fingerprint_rolling(F.md5("word")) % n_buckets).alias("wb"),
        )
        return postings, dl

    def _write_meta(self, meta: dict) -> None:
        """Atomic metadata publish: write to a tmp file, rename over the
        old one — a reader never sees a torn JSON."""
        tmp = os.path.join(self.root, self.META + ".tmp")
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, os.path.join(self.root, self.META))

    @classmethod
    def build(
        cls,
        docs: DataFrame,
        text_col: str,
        id_col: str,
        root: str,
        n_buckets: int = 64,
    ) -> "InvertedTextIndex":
        idx = cls(root)
        postings, dl = cls._postings(docs, text_col, id_col, n_buckets)
        (
            # one task per bucket → ~one file per bucket directory
            postings.repartition(n_buckets, "wb")
            .write.mode("overwrite")
            .partitionBy("wb")
            .parquet(os.path.join(root, cls.POSTINGS))
        )
        stats = dl.agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("sum_dl"),
        ).collect()[0]
        # a rebuild supersedes any torn prior state: drop stale manifests
        pend_dir = os.path.join(root, cls.PENDING)
        if os.path.isdir(pend_dir):
            for name in os.listdir(pend_dir):
                os.unlink(os.path.join(pend_dir, name))
        idx._write_meta(
            {
                "n_buckets": n_buckets,
                "n_docs": int(stats["n_docs"]),
                "sum_dl": int(stats["sum_dl"]),
                "batches": [],
            }
        )
        return idx

    def append(
        self, docs: DataFrame, text_col: str, id_col: str
    ) -> "InvertedTextIndex":
        """Incremental index maintenance: add a batch of NEW documents
        without rebuilding — postings are per-(doc, word), so a new
        doc's rows are disjoint from every existing row and a plain
        partitioned append lands them in the right bucket directories;
        the corpus scalars fold additively (N' = N + n, Σdl' = Σdl +
        σdl). Document frequencies need no stored state at all: probes
        derive df from the postings they read, so df is correct the
        instant the rows land. A probe after append must equal a probe
        of the index rebuilt from scratch on the union corpus —
        ``text_bm25_incremental``'s oracle asserts exactly that.
        ``docs`` must be new ids (a re-send would double-count tf; the
        exactly-once discipline lives in the ingest layer, e.g. the
        streaming batch_id partitions).

        Crash-safety contract: the posting append and the meta update
        are TWO steps — the meta publish itself is atomic (tmp +
        rename), but a crash between the committed append and the meta
        rename leaves postings ahead of (n_docs, Σdl), and re-running
        the append double-writes (parquet append is not idempotent).
        That torn window is now DETECTED, not just documented: a
        pending manifest (batch id + delta scalars) is written BEFORE
        the posting append and removed only after the meta commit lists
        the batch — ``probe_bm25``/``append`` refuse with
        :class:`TornIndexError` while an uncommitted manifest exists,
        directing the caller to rebuild. A production ingest still
        drives this from an exactly-once wrapper (foreachBatch with
        per-batch_id bookkeeping, the dsir_score_stream /
        countmin_stream recipe); the manifest turns the residual crash
        window from silent drift into a loud stop."""
        self._check_not_torn()
        with open(os.path.join(self.root, self.META)) as f:
            meta = json.load(f)
        docs = local_probe.cast_to_stored(
            docs, id_col, os.path.join(self.root, self.POSTINGS), "doc_id"
        )
        postings, dl = self._postings(
            docs, text_col, id_col, meta["n_buckets"]
        )
        stats = dl.agg(
            F.count("*").alias("n"), F.sum("n_tokens").alias("s")
        ).collect()[0]
        bid = f"b{len(meta.get('batches', []))}"
        pend_dir = os.path.join(self.root, self.PENDING)
        os.makedirs(pend_dir, exist_ok=True)
        pend_path = os.path.join(pend_dir, f"{bid}.json")
        with open(pend_path, "w") as f:
            json.dump({"n_docs": int(stats["n"]), "sum_dl": int(stats["s"])}, f)
        (
            postings.repartition(meta["n_buckets"], "wb")
            .write.mode("append")
            .partitionBy("wb")
            .parquet(os.path.join(self.root, self.POSTINGS))
        )
        meta["n_docs"] += int(stats["n"])
        meta["sum_dl"] += int(stats["s"])
        meta.setdefault("batches", []).append(bid)
        self._write_meta(meta)
        os.unlink(pend_path)
        return self

    def probe_bm25(
        self,
        spark: SparkSession,
        terms: tuple[str, ...],
        k: int = 20,
        k1: float = 1.2,
        b: float = 0.75,
        strict: bool = True,
    ) -> DataFrame:
        """Top-k documents for ``terms`` under Okapi BM25 with Lucene's
        positive-clamped idf — numerically IDENTICAL to the full-scan
        query (same pinned fold order: alphabetical terms,
        left-associated, absent terms +0.0), but reading only the query
        terms' posting buckets.

        The index holds only documents matching ≥ 1 posting, while the
        full-scan ranking pads its top-k with zero-score documents when
        fewer than k match — so for a degenerate query the two top-k
        sets DIVERGE. ``strict=True`` (default) makes that divergence
        loud: the matched-doc count is verified ≥ k (one extra count
        over the already-pruned buckets) and ValueError raised
        otherwise, directing the caller to the full-scan query or to a
        zero-score tail union. ``strict=False`` skips the check for
        callers that accept < k rows (and know they lose full-scan
        parity there).

        Return contract: with ``strict=True`` the result is an EAGERLY
        materialized ≤ k-row local relation — values are frozen at call
        time, the pruning plan is no longer inspectable on the returned
        DataFrame, and row order is positional only — re-sort by
        (score_bm25 DESC, doc_id) downstream if ordering matters after
        any shuffle. A small probe, whose ``wb=`` bucket directories
        hold less than ``local_probe.LOCAL_PROBE_MAX_BYTES``, is read and
        scored on the driver and runs no Spark job; its schema, rows and
        doubles equal the Spark path's (idf via StrictMath, see
        :func:`_strict_log`). A larger one runs the Spark path and
        releases its posting cache after the top-k collect. Inspect the
        pruning with ``strict=False``, or on an index above the
        threshold: with ``strict=False`` the result stays lazy with the
        pruned-scan plan attached."""
        from databricks_etl_pipelines_spark.functions.numeric import (
            stable_round,
        )

        self._check_not_torn()
        with open(os.path.join(self.root, self.META)) as f:
            meta = json.load(f)
        n_docs, sum_dl = meta["n_docs"], meta["sum_dl"]
        # dedupe (duplicate terms would alias two idf_t/tf_t aggregate
        # columns into an ambiguous reference AND double-count the term)
        ordered = tuple(sorted(set(terms)))
        if not ordered:
            raise ValueError("probe_bm25: at least one query term")
        buckets = sorted(
            {_kr_fold(t) % meta["n_buckets"] for t in ordered}
        )
        postings_root = os.path.join(self.root, self.POSTINGS)
        if strict:
            files = local_probe.probed_files(postings_root, "wb", buckets)
            if files is not None:
                local = self._probe_local(
                    spark, files, ordered, n_docs, sum_dl, k, k1, b
                )
                if local is not None:
                    return local
        postings = (
            spark.read.parquet(postings_root)
            .filter(F.col("wb").isin(buckets))
            .filter(F.col("word").isin(*ordered))
        )
        df_rel = postings.groupBy("word").agg(
            F.count("*").alias("df")
        )
        idf = df_rel.groupBy().agg(
            *[
                F.max(
                    F.when(
                        F.col("word") == t,
                        F.log(
                            F.lit(1.0)
                            + (
                                F.lit(float(n_docs))
                                - F.col("df")
                                + F.lit(0.5)
                            )
                            / (F.col("df") + F.lit(0.5))
                        ),
                    )
                ).alias(f"idf_{t}")
                for t in ordered
            ]
        )
        piv = postings.groupBy("doc_id", "n_tokens").agg(
            *[
                F.coalesce(
                    F.max(F.when(F.col("word") == t, F.col("tf"))),
                    F.lit(0).cast("bigint"),
                ).alias(f"tf_{t}")
                for t in ordered
            ]
        )
        avgdl = F.lit(float(sum_dl)) / F.lit(float(n_docs))

        def term_score(t: str) -> F.Column:
            tf_c = F.col(f"tf_{t}")
            # a term absent from the WHOLE corpus has no df row → NULL
            # idf; it must contribute exact +0.0, not poison the sum
            return F.coalesce(F.col(f"idf_{t}"), F.lit(0.0)) * (
                (tf_c * F.lit(k1 + 1.0))
                / (
                    tf_c
                    + F.lit(k1)
                    * (F.lit(1.0 - b) + F.lit(b) * (F.col("n_tokens") / avgdl))
                )
            )

        if strict:
            # persist so the count job's scan is REUSED by the scoring
            # pass instead of re-reading the posting buckets (piv is
            # bounded by docs matching ≥1 query term × (2 + |terms|)
            # columns — the same tf-state bound the scoring carries)
            piv = piv.persist()
            matched = piv.count()
            if matched < k:
                piv.unpersist()
                raise _underfill_error(matched, ordered, k)
        score = term_score(ordered[0])
        for t in ordered[1:]:
            score = score + term_score(t)
        scored = piv.crossJoin(F.broadcast(idf)).select(
            "doc_id",
            "n_tokens",
            *[f"tf_{t}" for t in ordered],
            stable_round(score, 6).alias("score_bm25"),
        )
        ranked = scored.orderBy(F.desc("score_bm25"), "doc_id").limit(k)
        if strict:
            # materialize the (≤ k-row) top-k while piv is cached, then
            # unpersist — otherwise every successful strict probe leaks a
            # cached relation for the lifetime of the context (a
            # probe-many service would accumulate them). The returned
            # local relation carries the identical schema and values;
            # k rows on the driver is the same bound the caller's
            # .collect() pays anyway.
            try:
                rows = ranked.collect()
            finally:
                piv.unpersist()
            return spark.createDataFrame(rows, ranked.schema)
        return ranked

    @staticmethod
    def _probe_local(
        spark: SparkSession,
        files: list[str],
        ordered: tuple[str, ...],
        n_docs: int,
        sum_dl: int,
        k: int,
        k1: float,
        b: float,
    ) -> DataFrame | None:
        """The strict probe on the driver: the Spark path's groupBy,
        idf, fold and ``stable_round`` replayed in numpy op for op, so
        the rows, their order, the schema and every double are the
        same. None when a NULL, or files of differing schemas, need the
        Spark path's semantics."""
        table = local_probe.read_files(
            files, ["word", "doc_id", "tf", "n_tokens"]
        )
        if table is None:
            return None
        table = table.filter(
            pc.is_in(table["word"], value_set=pa.array(ordered))
        )
        if local_probe.has_nulls(table):
            return None
        postings = table.to_pandas()
        # one row per (doc_id, n_tokens) group, a max(tf) column per term
        tf = (
            postings.groupby(["doc_id", "n_tokens", "word"])["tf"]
            .max()
            .unstack("word", fill_value=0)
            .reindex(columns=list(ordered), fill_value=0)
            .astype("int64")
        )
        if len(tf) < k:
            raise _underfill_error(len(tf), ordered, k)
        df = postings["word"].value_counts()
        n_tokens = tf.index.get_level_values("n_tokens").to_numpy()
        avgdl = float(sum_dl) / float(n_docs)

        def term_score(t: str) -> np.ndarray:
            # a term absent from the WHOLE corpus contributes exact +0.0
            idf = 0.0
            if t in df.index:
                d = float(df[t])
                idf = _strict_log(
                    spark, 1.0 + ((float(n_docs) - d) + 0.5) / (d + 0.5)
                )
            tf_t = tf[t].to_numpy()
            return idf * (
                (tf_t * (k1 + 1.0))
                / (tf_t + k1 * ((1.0 - b) + b * (n_tokens / avgdl)))
            )

        score = term_score(ordered[0])
        for t in ordered[1:]:
            score = score + term_score(t)
        score = np.floor(score * 10**6 + 0.5) / 10**6  # stable_round(…, 6)
        doc_ids = tf.index.get_level_values("doc_id").to_numpy()
        order = local_probe.top_k_order(score, doc_ids, k)
        doc_type = table.schema.field("doc_id").type
        ntok_type = table.schema.field("n_tokens").type
        schema = StructType(
            [
                StructField("doc_id", from_arrow_type(doc_type)),
                StructField("n_tokens", from_arrow_type(ntok_type)),
                *[StructField(f"tf_{t}", LongType(), False) for t in ordered],
                StructField("score_bm25", DoubleType()),
            ]
        )
        columns = {
            "doc_id": pa.array(doc_ids[order], doc_type),
            "n_tokens": pa.array(n_tokens[order], ntok_type),
            **{f"tf_{t}": pa.array(tf[t].to_numpy()[order]) for t in ordered},
            "score_bm25": pa.array(score[order]),
        }
        return spark.createDataFrame(pa.table(columns), schema)
