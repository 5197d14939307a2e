"""The two workloads: inputs, warm-up, the measured phase, the output
checks and, for traced runs, the per-layer counts read from files.

Every workload reports the same end-to-end metrics, each with the meaning
that fits its path (see README.md in this directory):

* ``op_p50_ms`` — median latency of the repeated operation a user waits
  on (a micro-batch; a search request);
* ``bulk_s`` — time of the workload's one-shot bulk path (the batch
  medallion and fraud pass; dedup, index builds and the crawl batch);
* ``stored_bytes_per_input_byte`` — bytes the tables or indices hold after
  the run per byte of input parquet.

The per-path names (``stream_batch_p50_s``, ``dedup_s``, ...) are printed
in the report line alongside them.
"""

from __future__ import annotations

import collections
import glob
import json
import math
import os
import statistics
import time

import duckdb
import numpy as np
import pyarrow.parquet as pq

import inputs
from databricks_etl_pipelines_spark.ml import fraud
from databricks_etl_pipelines_spark.operators import dedup, retrieval, similarity
from databricks_etl_pipelines_spark.plans.medallion import MedallionPipeline
from databricks_etl_pipelines_spark.sources.generator import MCC_CODES
from databricks_etl_pipelines_spark.sources.managed_table import ManagedTable
from databricks_etl_pipelines_spark.streaming import structured

THRESHOLD = 0.7  # MinHash dedup Jaccard threshold (the operator default)
TOP_K = 10
NPROBE = 4  # IVF lists probed per query (the index default)


class Ops:
    """Attempted / failed operation counts. An operation fails when it
    raises or fails its output check."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{name}: {detail}"[:400])
        return ok

    def run(self, name: str, fn, *args, **kwargs):
        """Count ``fn`` as an operation; a raise counts as a failure and
        yields None (used where later steps do not depend on the result)."""
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception as exc:  # noqa: BLE001 - every failure is reported
            self.failed += 1
            self.failures.append(f"{name}: {type(exc).__name__}: {exc}"[:400])
            return None

    def done(self, n: int = 1) -> None:
        """Count ``n`` operations that completed (their failure would have
        raised out of the workload)."""
        self.attempted += n


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it; the maximum when there are ten samples or fewer."""
    xs = sorted(values)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0, n
    i = n - 11
    return xs[i], 100.0 * (i + 1) / n, n


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def version_dir(table) -> str:
    return os.path.join(table.root, f"_v{table.latest_version()}")


def scan(table) -> str:
    """DuckDB scan of a ManagedTable's latest committed version, read from
    its files: the checks do not go through Spark."""
    return f"read_parquet('{version_dir(table)}/**/*.parquet', hive_partitioning = false)"


def parquet_rows(path: str) -> int:
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    return sum(pq.read_metadata(f).num_rows for f in files)


def _valid_mask(pdf):
    return (
        pdf["transaction_id"].notna()
        & (pdf["amount"] > 0)
        & (pdf["card_number"].str.len() == 16)
        & pdf["mcc_code"].isin(MCC_CODES)
    )


def _reasons(pdf) -> collections.Counter:
    """Pandas twin of ``plans.medallion.quarantine_reason``."""
    out: collections.Counter = collections.Counter()
    for row in pdf[~_valid_mask(pdf)].itertuples(index=False):
        if row.transaction_id is None:
            out["null_transaction_id"] += 1
        elif not row.amount > 0:
            out["non_positive_amount"] += 1
        elif len(row.card_number) != 16:
            out["malformed_card_number"] += 1
        elif row.mcc_code not in MCC_CODES:
            out["invalid_mcc_code"] += 1
    return out


def table_counts(roots: list[str], changed_rows: dict[str, list[int]]) -> dict:
    """Per-layer ``managed_table`` counts read from files and manifests.

    ``changed_rows[table]`` lists, per committed version, the source rows
    that version inserted or updated; rows in the version's new files
    divided by them is the write amplification of those commits."""
    commits = rewritten = buckets = 0
    inode_bytes: dict[int, int] = {}
    path_bytes = 0
    new_rows = useful = 0
    for root in roots:
        for log_path in glob.glob(os.path.join(root, "**", "_log.json"), recursive=True):
            table = os.path.dirname(log_path)
            with open(log_path) as f:
                log = json.load(f)
            commits += len(log)
            for entry in log:
                if "buckets_rewritten" in entry:
                    rewritten += entry["buckets_rewritten"]
                    buckets += entry["n_buckets"]
            prev: set[int] = set()
            per_version = changed_rows.get(os.path.basename(table))
            for i, entry in enumerate(log):
                vdir = os.path.join(table, f"_v{entry['version']}")
                inodes = set()
                for d, _, fs in os.walk(vdir):
                    for fn in fs:
                        st = os.stat(os.path.join(d, fn))
                        inodes.add(st.st_ino)
                        inode_bytes[st.st_ino] = st.st_size
                        path_bytes += st.st_size
                        if per_version and fn.endswith(".parquet") and st.st_ino not in prev:
                                                    new_rows += pq.read_metadata(os.path.join(d, fn)).num_rows
                if per_version and i < len(per_version):
                    useful += per_version[i]
                prev = inodes
    written = sum(inode_bytes.values())
    return {
        "commits": commits,
        "bytes_written": written,
        "bytes_hardlinked": path_bytes - written,
        "buckets_rewritten_share": rewritten / buckets if buckets else 0.0,
        "rows_rewritten_per_changed_row": new_rows / useful if useful else 0.0,
    }


# ---------------------------------------------------------------------------
# txn_pipeline, stream part
# ---------------------------------------------------------------------------


class TxnStreamUpsert:
    """Seeded micro-batch files drained through ``StreamingMedallion`` with
    ``maxFilesPerTrigger=1`` and ``availableNow``: a closed loop with one
    producer, each file offered only after the previous batch commits."""

    BATCH_ROWS = 2_000
    BUCKETS = 16
    BATCHES_PER_SECOND = 0.4  # feed size per --seconds

    def rows_needed(self, seconds: int) -> int:
        """Fix the feed at ``BATCHES_PER_SECOND`` × ``seconds`` batches;
        return the generator rows it uses."""
        self.n_batches = max(5, round(seconds * self.BATCHES_PER_SECOND))
        return inputs.stream_rows_needed(self.n_batches, self.BATCH_ROWS)

    def make_inputs(self, run, fresh) -> None:
        """Write the feed from ``fresh``, :meth:`rows_needed` generator rows."""
        self.feed = inputs.stream_feed(
            fresh, run.seed, os.path.join(run.scratch, "feed"), self.n_batches, self.BATCH_ROWS
        )
        self.schema = run.spark.read.parquet(self.feed.directory).schema

    def _drain(self, run, feed_dir: str, root: str):
        medallion = structured.StreamingMedallion(run.spark, root, bucket_silver=self.BUCKETS)
        stream = (
            run.spark.readStream.schema(self.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed_dir)
        )
        start = time.perf_counter()
        query = medallion.start(stream, os.path.join(root, "_checkpoint"))
        structured.await_drained(query, timeout_s=150)
        wall = time.perf_counter() - start
        progress = [p for p in query.recentProgress if p["numInputRows"] > 0]
        return medallion, wall, progress

    def measure(self, run) -> dict:
        root = os.path.join(run.scratch, "stream")
        self.root = root
        medallion, wall, progress = self._drain(run, self.feed.directory, root)
        batch_s = [p["durationMs"]["triggerExecution"] / 1000.0 for p in progress]
        run.ops.done(len(batch_s))
        self.progress = progress
        self.medallion = medallion
        self.stored = sum(
            dir_bytes(version_dir(t))
            for t in (medallion.silver, medallion.quarantine, medallion.gold_hourly)
        )
        self.input_bytes = self.feed.input_bytes
        t_val, t_pct, n = tail(batch_s)
        self.p50 = statistics.median(batch_s)
        return {
            "stream_batch_p50_s": {"value": self.p50, "unit": "s", "samples": batch_s},
            "stream_batch_tail_s": {"value": t_val, "unit": "s", "percentile": t_pct, "n": n},
            "stream_rows_per_s": {"value": self.feed.rows / wall, "unit": "rows/s"},
            "stored_bytes_per_input_byte": {"value": self.stored / self.input_bytes, "unit": "ratio"},
        }

    def check(self, run) -> dict:
        ops, m = run.ops, self.medallion
        ops.check("every_batch_committed", len(self.progress) == len(self.feed.batches),
                  f"{len(self.progress)} of {len(self.feed.batches)} batches")
        expected: dict[str, float] = {}
        reasons: collections.Counter = collections.Counter()
        self.valid_per_batch = []
        for batch in self.feed.batches:
            valid = batch[_valid_mask(batch)]
            self.valid_per_batch.append(len(valid))
            expected.update(zip(valid["transaction_id"], valid["amount"]))
            reasons += _reasons(batch)
        con = duckdb.connect()
        silver = con.execute(f"SELECT transaction_id, amount FROM {scan(m.silver)}").fetchall()
        got = dict(silver)
        ops.check(
            "silver_last_write_wins",
            len(silver) == len(got) and got == expected,
            f"silver {len(silver)} rows, reference {len(expected)}",
        )
        got_reasons = dict(con.execute(
            f"SELECT quarantine_reason, count(*) FROM {scan(m.quarantine)} GROUP BY 1"
        ).fetchall())
        ops.check("quarantine_reasons", got_reasons == dict(reasons), f"{got_reasons} vs {dict(reasons)}")
        gold_count, self.gold_rows = con.execute(
            f"SELECT sum(txn_count), count(*) FROM {scan(m.gold_hourly)}"
        ).fetchone()
        con.close()
        self.overcount = int(gold_count) - len(silver)
        self.silver_rows, self.quarantine_rows = len(silver), sum(reasons.values())
        return {}

    def properties(self) -> dict:
        cards = set()
        for b in self.feed.batches:
            cards.update(b["cardholder_name"])
        return {
            "stream_batches": len(self.feed.batches),
            "stream_batch_rows": self.BATCH_ROWS,
            "stream_resend_share": round(self.feed.resend_share(), 4),
            "stream_distinct_cardholders": len(cards),
            "stream_input_bytes": self.feed.input_bytes,
        }


# ---------------------------------------------------------------------------
# txn_pipeline, batch part
# ---------------------------------------------------------------------------

FRAUD_FEATURES = [
    "txn_count", "total_spend", "min_amount", "max_amount", "unique_merchants",
    "unique_categories", "unique_states", "online_ratio", "intl_ratio",
    "avg_amount", "total_risk_score",
]


class TxnBatchMedallion:
    """One seeded bronze batch through bronze → silver → gold → OPTIMIZE
    silver → fraud model training → scores table, once."""

    ROWS = 5_000
    FILES = 4

    def make_inputs(self, run, pdf) -> None:
        """Write ``pdf`` (``ROWS`` generator rows) as the bronze input."""
        self.input_dir = os.path.join(run.scratch, "input")
        os.makedirs(self.input_dir)
        self.pdf = pdf.reset_index(drop=True)
        step = math.ceil(self.ROWS / self.FILES)
        self.input_bytes = sum(
            inputs.write_parquet(
                self.pdf.iloc[i * step : (i + 1) * step],
                os.path.join(self.input_dir, f"part-{i}.parquet"),
            )
            for i in range(self.FILES)
        )

    def measure(self, run) -> dict:
        spark, tr = run.spark, run.tracer
        self.root = os.path.join(run.scratch, "medallion")
        start = time.perf_counter()
        mp = MedallionPipeline(spark, self.root)
        mp.ingest_bronze(spark.read.parquet(self.input_dir))
        mp.run_silver()
        mp.run_gold()
        gold_ready = time.perf_counter() - start
        mp.silver.optimize(spark, cluster_by=["event_timestamp", "amount"])
        mat = fraud.feature_matrix(
            mp.gold_features.read(spark), FRAUD_FEATURES, "is_suspicious", "cardholder_token"
        )
        mat = fraud.ensure_two_classes(mat, fallback_col="avg_amount").cache()
        train, test = fraud.stratified_split(mat, id_col="cardholder_token")
        best, models, _ = fraud.train_compare(train, test, FRAUD_FEATURES, fast=True)
        scores = ManagedTable(os.path.join(self.root, "fraud_scores"))
        with tr.span("fraud.batch_score_write", table="fraud_scores"):
            scores.create_or_overwrite(fraud.batch_score(models[best], mat, "cardholder_token"))
        pipeline = time.perf_counter() - start
        run.ops.done(7)  # ingest, silver, gold, optimize, train, score, write
        self.n_matrix = mat.count()
        mat.unpersist()
        self.mp, self.scores = mp, scores
        self.stored = sum(
            dir_bytes(version_dir(t))
            for t in (mp.bronze, mp.silver, mp.quarantine, mp.gold_merchant,
                      mp.gold_features, mp.gold_hourly, scores)
        )
        self.pipeline_s = pipeline
        return {
            "batch_gold_ready_s": {"value": gold_ready, "unit": "s"},
            "batch_pipeline_s": {"value": pipeline, "unit": "s"},
            "batch_stored_bytes_per_input_byte": {"value": self.stored / self.input_bytes, "unit": "ratio"},
        }

    def check(self, run) -> dict:
        ops, mp, scores, n_matrix = run.ops, self.mp, self.scores, self.n_matrix
        codes = ", ".join(f"'{c}'" for c in MCC_CODES)
        con = duckdb.connect()
        valid = (
            f"SELECT * FROM read_parquet('{self.input_dir}/*.parquet') "
            f"WHERE transaction_id IS NOT NULL AND amount > 0 "
            f"AND length(card_number) = 16 AND mcc_code IN ({codes})"
        )
        group_keys = {
            "gold_merchant": "merchant_name, mcc_code, merchant_state",
            "gold_features": "lower(trim(cardholder_name))",
            "gold_hourly": "floor(epoch(event_timestamp) / 3600), card_network, mcc_code",
        }
        volume = {"gold_merchant": "total_volume", "gold_features": "total_spend",
                  "gold_hourly": "total_volume"}
        tables = {"gold_merchant": mp.gold_merchant, "gold_features": mp.gold_features,
                  "gold_hourly": mp.gold_hourly}
        self.gold_rows = 0
        for name, table in tables.items():
            ref = con.execute(
                f"SELECT count(*), sum(n), sum(v) FROM (SELECT count(*) n, sum(amount) v "
                f"FROM ({valid}) GROUP BY {group_keys[name]})"
            ).fetchone()
            got = con.execute(
                f"SELECT count(*), sum(txn_count), sum({volume[name]}) FROM {scan(table)}"
            ).fetchone()
            ok = got[:2] == ref[:2] and abs(got[2] - ref[2]) <= 0.005 * ref[0] + 1e-6
            ops.check(f"{name}_vs_duckdb", ok, f"spark {got} duckdb {ref}")
            self.gold_rows += got[0]
        n_valid = con.execute(f"SELECT count(*) FROM ({valid})").fetchone()[0]
        silver_rows = con.execute(f"SELECT count(*) FROM {scan(mp.silver)}").fetchone()[0]
        ops.check("silver_rows", silver_rows == n_valid, f"{silver_rows} vs {n_valid}")
        score_rows = con.execute(
            f"SELECT count(*), count(DISTINCT cardholder_token) FROM {scan(scores)}"
        ).fetchone()
        ops.check(
            "fraud_scores_one_per_feature_row",
            score_rows[0] == n_matrix == score_rows[1],
            f"scores {score_rows} matrix {n_matrix}",
        )
        hourly_count = con.execute(f"SELECT sum(txn_count) FROM {scan(mp.gold_hourly)}").fetchone()[0]
        con.close()
        self.silver_rows = silver_rows
        self.quarantine_rows = self.ROWS - n_valid
        self.overcount = int(hourly_count) - silver_rows
        return {}

    def properties(self) -> dict:
        return {
            "batch_rows": self.ROWS,
            "batch_distinct_cardholders": int(self.pdf["cardholder_name"].nunique()),
            "batch_input_bytes": self.input_bytes,
        }


class TxnPipeline:
    """The reference's transaction path in one process: the batch medallion
    and fraud model pass over a bulk bronze batch (03+04), then the
    micro-batch upsert stream into silver (01+02), each on its own root."""

    name = "txn_pipeline"

    def __init__(self) -> None:
        self.stream = TxnStreamUpsert()
        self.batch = TxnBatchMedallion()

    def make_inputs(self, run) -> None:
        need = self.stream.rows_needed(run.seconds)
        fresh = inputs.transactions(run.spark, run.seed, need + self.batch.ROWS)
        self.stream.make_inputs(run, fresh.iloc[:need].reset_index(drop=True))
        self.batch.make_inputs(run, fresh.iloc[need:])

    def warm_up(self, run) -> None:
        """No separate pass: the batch pass is timed cold, as a fresh batch
        job pays its own code generation, and it warms the code the stream
        shares with it. A warm-up drain costs about 15 s of set-up on 4
        cores, which the run's time budget does not hold."""

    def measure(self, run) -> dict:
        report = self.batch.measure(run)
        run.spark.catalog.clearCache()
        report.update(self.stream.measure(run))
        return {
            "e2e": {
                "op_p50_ms": self.stream.p50 * 1000.0,
                "bulk_s": self.batch.pipeline_s,
                "stored_bytes_per_input_byte": self.stream.stored / self.stream.input_bytes,
            },
            "report": report,
        }

    def check(self, run) -> dict:
        self.stream.check(run)
        self.batch.check(run)
        return {}

    def properties(self) -> dict:
        return {**self.stream.properties(), **self.batch.properties()}

    def layer_counts(self, run) -> dict:
        s, b = self.stream, self.batch
        counts = table_counts(
            [s.root, b.root],
            {"silver": s.valid_per_batch, "silver_transactions": [b.silver_rows]},
        )
        return {
            "managed_table": {**counts, "input_bytes": s.input_bytes + b.input_bytes},
            "structured.batches": len(s.progress),
            "structured.input_rows": s.feed.rows,
            # foreachBatch actions re-scan the batch's file split; the engine
            # counts every scan in numInputRows
            "structured.rows_scanned_per_input_row": (
                sum(p["numInputRows"] for p in s.progress) / s.feed.rows
            ),
            "structured.batch_s": sum(p["durationMs"]["triggerExecution"] for p in s.progress) / 1000.0,
            "medallion.silver_rows": s.silver_rows + b.silver_rows,
            "medallion.quarantine_rows": s.quarantine_rows + b.quarantine_rows,
            "medallion.gold_rows": s.gold_rows + b.gold_rows,
            "medallion.gold_overcount_rows": s.overcount + b.overcount,
            "fraud.train_rows": b.n_matrix,
        }


# ---------------------------------------------------------------------------
# corpus_dedup_search
# ---------------------------------------------------------------------------


class Bm25Reference:
    """Independent numpy/python Okapi BM25 (Lucene idf) over the indexed
    corpus, with the operator's 6-digit half-up rounding."""

    def __init__(self, frame, k1: float = 1.2, b: float = 0.75):
        self.k1, self.b = k1, b
        self.postings: dict[str, list[tuple[int, int]]] = collections.defaultdict(list)
        self.dl: dict[int, int] = {}
        for doc_id, text in zip(frame["doc_id"], frame["text"]):
            toks = text.split(" ")
            self.dl[int(doc_id)] = len(toks)
            for w, tf in collections.Counter(toks).items():
                self.postings[w].append((int(doc_id), tf))
        self.n = len(self.dl)
        self.avgdl = sum(self.dl.values()) / self.n

    def scores(self, terms) -> dict[int, float]:
        out: dict[int, float] = collections.defaultdict(float)
        for t in sorted(set(terms)):
            post = self.postings.get(t, [])
            df = len(post)
            idf = math.log(1.0 + (self.n - df + 0.5) / (df + 0.5))
            for d, tf in post:
                norm = self.k1 * ((1.0 - self.b) + self.b * (self.dl[d] / self.avgdl))
                out[d] += idf * ((tf * (self.k1 + 1.0)) / (tf + norm))
        return {d: math.floor(s * 1e6 + 0.5) / 1e6 for d, s in out.items()}


class CorpusDedupSearch:
    """Near-dup pairs over the corpus, three index builds, a closed-loop
    single-client query stream (each request: one BM25 probe, then one IVF
    probe), and one crawl batch screened and added to every index."""

    name = "corpus_dedup_search"
    DOCS = 1_000
    CRAWL = 100
    DUP_SHARE = 0.1
    CRAWL_DUP_SHARE = 0.2
    WARM_REQUESTS = 2
    REQUESTS_PER_SECOND = 0.4  # queries per --seconds
    TERM_RANKS = (60, 120)  # Zipf ranks of query terms: similar posting sizes on every seed

    def make_inputs(self, run) -> None:
        self.queries = max(6, round(run.seconds * self.REQUESTS_PER_SECOND))
        self.corpus = inputs.corpus(run.seed, 0, self.DOCS, 0, self.DUP_SHARE)
        self.crawl = inputs.corpus(
            run.seed, 1, self.CRAWL, 10_000_000, self.CRAWL_DUP_SHARE,
            base=self.corpus.frame, centers=self.corpus.centers,
        )
        directory = os.path.join(run.scratch, "input")
        os.makedirs(directory)
        self.c_path = os.path.join(directory, "corpus.parquet")
        self.w_path = os.path.join(directory, "crawl.parquet")
        self.input_bytes = inputs.write_parquet(self.corpus.frame, self.c_path) + inputs.write_parquet(
            self.crawl.frame, self.w_path
        )
        rng = np.random.default_rng([run.seed, 0, 6])
        vocab = self.corpus.vocab
        dim = self.corpus.centers.shape[1]
        self.pool = [
            (
                tuple(vocab[int(i)] for i in rng.integers(*self.TERM_RANKS, size=2)),
                (self.corpus.centers[rng.integers(len(self.corpus.centers))]
                 + 0.35 * rng.normal(size=dim)).tolist(),
            )
            for _ in range(self.queries + self.WARM_REQUESTS)
        ]
        self.bm25_ref = Bm25Reference(self.corpus.frame)
        emb = np.asarray(self.corpus.frame["emb"].tolist())
        self.unit = emb / np.linalg.norm(emb, axis=1, keepdims=True)
        self.ids = self.corpus.frame["doc_id"].to_numpy()
        self.text = dict(zip(self.corpus.frame["doc_id"], self.corpus.frame["text"]))
        self.text.update(zip(self.crawl.frame["doc_id"], self.crawl.frame["text"]))

    def warm_up(self, run) -> None:
        """No separate pass: dedup, the index builds and the crawl batch run
        once per process in production too, so they are timed cold. The
        query path is warmed in :meth:`measure` by ``WARM_REQUESTS``
        throwaway requests once the indices exist."""

    def measure(self, run) -> dict:
        spark, tr, ops = run.spark, run.tracer, run.ops
        self.root = root = os.path.join(run.scratch, "corpus")
        docs = spark.read.parquet(self.c_path)
        crawl = spark.read.parquet(self.w_path)
        r: dict = {}
        t = time.perf_counter()
        with tr.span("dedup.minhash_pairs"):
            r["pairs"] = dedup.minhash_lsh_dedup_pairs(docs, "text", "doc_id", threshold=THRESHOLD).collect()
        r["dedup_s"] = time.perf_counter() - t
        spark.catalog.clearCache()

        t = time.perf_counter()
        bm25 = retrieval.InvertedTextIndex.build(docs, "text", "doc_id", os.path.join(root, "bm25"))
        ivf = similarity.DetIvfIndex(os.path.join(root, "ivf"))
        ivf.build(docs, "emb", "doc_id")
        mh = dedup.MinHashCorpusIndex.build(docs, "text", "doc_id", os.path.join(root, "minhash"))
        r["index_build_s"] = time.perf_counter() - t
        spark.catalog.clearCache()
        if tr.enabled:  # list sizes as the queries see them, before the crawl
            lists = os.path.join(root, "ivf", "lists")
            r["list_rows"] = {
                int(d.split("=", 1)[1]): parquet_rows(os.path.join(lists, d))
                for d in os.listdir(lists) if d.startswith("list_id=")
            }

        def bm25_probe(terms):
            return bm25.probe_bm25(spark, terms, k=TOP_K).collect()

        def ivf_probe(vec):
            return ivf.probe(spark, vec, "doc_id", k=TOP_K, nprobe=NPROBE).collect()

        for terms, vec in self.pool[-self.WARM_REQUESTS:]:
            ops.run("warm_request", lambda: (bm25_probe(terms), ivf_probe(vec)))
        requests, bm25_ms, ann_ms = [], [], []
        for terms, vec in self.pool[: self.queries]:
            t0 = time.perf_counter()
            with tr.span("retrieval.probe_collect"):
                top = ops.run("bm25_query", bm25_probe, terms)
            t1 = time.perf_counter()
            with tr.span("similarity.ivf_probe_collect"):
                near = ops.run("ann_query", ivf_probe, vec)
            t2 = time.perf_counter()
            requests.append((terms, vec, top, near))
            bm25_ms.append((t1 - t0) * 1000.0)
            ann_ms.append((t2 - t1) * 1000.0)
        r.update(requests=requests, bm25_ms=bm25_ms, ann_ms=ann_ms,
                 request_ms=[a + b for a, b in zip(bm25_ms, ann_ms)])
        spark.catalog.clearCache()

        t = time.perf_counter()
        with tr.span("dedup.match_new_collect"):
            r["matches"] = mh.match_new(spark, crawl, "text", "doc_id", threshold=THRESHOLD).collect()
        bm25.append(crawl, "text", "doc_id")
        ivf.append(crawl, "emb", "doc_id")
        mh.add(spark, crawl, "text", "doc_id")
        r["crawl_ingest_s"] = time.perf_counter() - t
        spark.catalog.clearCache()
        r["index_bytes"] = dir_bytes(root)
        ops.done(1 + 3 + 4)  # dedup, three builds, screen + three appends
        self.r = r
        report = {
            "dedup_s": {"value": r["dedup_s"], "unit": "s"},
            "index_build_s": {"value": r["index_build_s"], "unit": "s"},
            "crawl_ingest_s": {"value": r["crawl_ingest_s"], "unit": "s"},
        }
        for key, name in (("bm25_ms", "bm25_query"), ("ann_ms", "ann_query"), ("request_ms", "request")):
            v, pct, n = tail(r[key])
            report[f"{name}_p50_ms"] = {"value": statistics.median(r[key]), "unit": "ms", "samples": r[key]}
            report[f"{name}_tail_ms"] = {"value": v, "unit": "ms", "percentile": pct, "n": n}
        return {
            "e2e": {
                "op_p50_ms": statistics.median(r["request_ms"]),
                "bulk_s": r["dedup_s"] + r["index_build_s"] + r["crawl_ingest_s"],
                "stored_bytes_per_input_byte": r["index_bytes"] / self.input_bytes,
            },
            "report": report,
        }

    def check(self, run) -> dict:
        ops, r = run.ops, self.r
        bad = [p for p in r["pairs"] if inputs.jaccard(self.text[p["id_a"]], self.text[p["id_b"]]) < THRESHOLD]
        ops.check("dedup_pairs_jaccard", not bad, f"{len(bad)} of {len(r['pairs'])} below threshold")
        found = {(min(p["id_a"], p["id_b"]), max(p["id_a"], p["id_b"])) for p in r["pairs"]}
        planted = [
            (min(a, b), max(a, b)) for a, b in self.corpus.planted
            if inputs.jaccard(self.text[a], self.text[b]) >= THRESHOLD
        ]
        self.planted_recall = sum(p in found for p in planted) / len(planted) if planted else 1.0
        self.n_pairs = len(r["pairs"])

        bad = [m for m in r["matches"] if inputs.jaccard(self.text[m["new_id"]], self.text[m["corpus_id"]]) < THRESHOLD]
        ops.check("crawl_matches_jaccard", not bad, f"{len(bad)} of {len(r['matches'])} below threshold")

        recalls = []
        for terms, vec, top, near in r["requests"]:
            if top is not None:
                ref = self.bm25_ref.scores(terms)
                best = sorted(ref.items(), key=lambda kv: (-kv[1], kv[0]))[:TOP_K]
                ok = (
                    len(top) == TOP_K
                    and all(abs(ref.get(row["doc_id"], -1.0) - row["score_bm25"]) <= 1e-6 for row in top)
                    and min(row["score_bm25"] for row in top) >= best[-1][1] - 1e-6
                )
                ops.check("bm25_vs_numpy", ok, f"terms {terms}")
            if near is not None:
                q = np.asarray(vec) / np.linalg.norm(vec)
                cos = self.unit @ q
                exact = set(self.ids[np.lexsort((self.ids, -cos))[:TOP_K]].tolist())
                by_id = dict(zip(self.ids.tolist(), cos.tolist()))
                ok = len(near) == TOP_K and all(
                    abs(by_id[row["doc_id"]] - row["cosine_sim"]) <= 1e-9 for row in near
                )
                ops.check("ivf_cosine_vs_numpy", ok, f"query {vec[:2]}")
                recalls.append(len(exact & {row["doc_id"] for row in near}) / TOP_K)
        self.recall = statistics.mean(recalls) if recalls else 0.0

        with open(os.path.join(self.root, "bm25", "bm25_meta.json")) as f:
            n_docs = json.load(f)["n_docs"]
        total = self.DOCS + self.CRAWL
        ivf_rows = parquet_rows(os.path.join(self.root, "ivf", "lists"))
        mh_rows = parquet_rows(os.path.join(self.root, "minhash", "shingles"))
        ops.check("indices_hold_corpus_and_crawl", n_docs == ivf_rows == mh_rows == total,
                  f"bm25 {n_docs} ivf {ivf_rows} minhash {mh_rows} expected {total}")
        return {"ann_recall_at_10": {"value": self.recall, "unit": "ratio"},
                "dedup_planted_recall": {"value": self.planted_recall, "unit": "ratio"}}

    def properties(self) -> dict:
        used = set()
        for text in self.corpus.frame["text"]:
            used.update(text.split(" "))
        return {
            "docs": self.DOCS,
            "crawl_docs": self.CRAWL,
            "planted_duplicate_share": round(len(self.corpus.planted) / self.DOCS, 4),
            "crawl_planted_duplicate_share": round(len(self.crawl.planted) / self.CRAWL, 4),
            "vocabulary_size": len(used),
            "queries": len(self.r["requests"]),
            "input_bytes": self.input_bytes,
        }

    def layer_counts(self, run) -> dict:
        docs = run.spark.read.parquet(self.c_path)
        candidates = dedup.minhash_lsh_candidates(docs, "text", "doc_id").count()
        with open(os.path.join(self.root, "bm25", "bm25_meta.json")) as f:
            n_buckets = json.load(f)["n_buckets"]
        with open(os.path.join(self.root, "ivf", "centroids.json")) as f:
            cents = [(int(c), np.asarray(v)) for c, v in json.load(f)]
        buckets, scanned = [], []
        list_rows = self.r["list_rows"]
        for terms, vec, _, _ in self.r["requests"]:
            buckets.append(len({retrieval._kr_fold(t) % n_buckets for t in set(terms)}))
            q = np.asarray(vec)
            probed = sorted(cents, key=lambda c: (float(((q - c[1]) ** 2).sum()), c[0]))[:NPROBE]
            scanned.append(sum(list_rows.get(c, 0) for c, _ in probed))
        return {
            "dedup.candidates": candidates,
            "dedup.pairs_per_candidate": self.n_pairs / candidates if candidates else 0.0,
            "dedup.planted_recall": self.planted_recall,
            "retrieval.buckets_read_per_query": statistics.mean(buckets),
            "similarity.rows_scanned_per_query": statistics.mean(scanned),
        }


WORKLOADS = {w.name: w for w in (TxnPipeline, CorpusDedupSearch)}
