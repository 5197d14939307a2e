"""Seeded inputs for the two workloads.

Everything here is a pure function of the seed: the program under test
only ever sees the files and DataFrames these functions produce. The
transaction rows come from the package's own column chain
(``sources.generator.transaction_columns``) over a seed-derived id range,
with two benchmark-owned overrides the stock generator lacks:

* ``cardholder_name`` is redrawn from a Zipf law over 100k cardholders.
  The stock chain picks first and last name from ``v*13`` and ``v*17+3``
  mod 10, which are locked together (3v mod 10 fixes 7v+3 mod 10), so it
  yields 10 distinct cardholders and the fraud model would train on 10 rows.
* the stream feed re-sends a share of earlier ``transaction_id``s with
  corrected amounts, so every MERGE after the first updates rows as well as
  inserting them.

The generator's prime-indexed invalid rows (null id, bad amount, short card,
bad MCC) stay in, so the quarantine path does real work.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

N_CARDHOLDERS = 100_000
ZIPF_S = 1.1
RESEND_SHARE = 0.2


def _zipf_draw(rng: np.random.Generator, n: int, n_keys: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n_keys + 1, dtype=np.float64) ** s
    return rng.choice(n_keys, size=n, p=p / p.sum())


def _id_offset(seed: int) -> int:
    """A seed-derived start of the generator's sequence numbers, kept below
    1e10 minus a run's rows: the generator zero-pads the id to ten digits."""
    return 1_000_000 + (seed % 241) * 40_000_000


def write_parquet(pdf: pd.DataFrame, path: str) -> int:
    """Write with microsecond, UTC-adjusted timestamps (what Spark reads as
    TIMESTAMP); returns the file size in bytes."""
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    pq.write_table(table, path, coerce_timestamps="us", allow_truncated_timestamps=True)
    return os.path.getsize(path)


def transactions(spark, seed: int, n_rows: int) -> pd.DataFrame:
    """``n_rows`` generator rows with Zipf-skewed cardholders, as pandas."""
    from pyspark.sql import functions as F

    from databricks_etl_pipelines_spark.sources.generator import (
        BASE_EPOCH,
        transaction_columns,
    )

    start = _id_offset(seed)
    value = F.col("id")
    ts = F.timestamp_seconds(F.lit(BASE_EPOCH) + (value % F.lit(86_400 * 30)))
    cols = transaction_columns(value, ts)
    sdf = spark.range(start, start + n_rows, numPartitions=4).select(
        [expr.alias(name) for name, expr in cols.items()]
    )
    pdf = sdf.toPandas()
    pdf["event_timestamp"] = pdf["event_timestamp"].dt.tz_localize("UTC")
    rng = np.random.default_rng([seed, 1])
    names = rng.permutation(N_CARDHOLDERS)
    ranks = _zipf_draw(rng, n_rows, N_CARDHOLDERS, ZIPF_S)
    pdf["cardholder_name"] = [f"Holder {names[r]:06d}" for r in ranks]
    return pdf


@dataclass
class StreamFeed:
    """Micro-batch files plus what the benchmark measured about them."""

    directory: str
    batches: list[pd.DataFrame] = field(default_factory=list)
    input_bytes: int = 0

    @property
    def rows(self) -> int:
        return sum(len(b) for b in self.batches)

    def resend_share(self) -> float:
        seen: set[str] = set()
        resent = 0
        for b in self.batches:
            ids = b["transaction_id"].dropna()
            resent += int(ids.isin(seen).sum())
            seen.update(ids)
        return resent / self.rows


def stream_feed(
    fresh: pd.DataFrame, seed: int, directory: str, n_batches: int, batch_rows: int
) -> StreamFeed:
    """``n_batches`` parquet files of ``batch_rows`` rows each, drawn in
    order from ``fresh`` (generator rows, see :func:`transactions`). From the
    second batch on, ``RESEND_SHARE`` of each batch re-sends ids of earlier
    batches (distinct within the batch) with a corrected, positive amount."""
    n_resend = int(round(RESEND_SHARE * batch_rows))
    need = stream_rows_needed(n_batches, batch_rows)
    if len(fresh) < need:
        raise ValueError(f"stream_feed needs {need} fresh rows, got {len(fresh)}")
    rng = np.random.default_rng([seed, n_batches, batch_rows])
    os.makedirs(directory, exist_ok=True)
    feed = StreamFeed(directory)
    sent = fresh.iloc[:0]
    pos = 0
    for b in range(n_batches):
        take = batch_rows if b == 0 else batch_rows - n_resend
        batch = fresh.iloc[pos : pos + take]
        pos += take
        if b:
            pool = sent[sent["transaction_id"].notna()].drop_duplicates("transaction_id")
            pick = pool.iloc[rng.choice(len(pool), size=n_resend, replace=False)].copy()
            pick["amount"] = (pick["amount"].abs() * 1.1 + 0.01).round(2)
            batch = pd.concat([batch, pick], ignore_index=True)
        batch = batch.reset_index(drop=True)
        feed.input_bytes += write_parquet(batch, os.path.join(directory, f"batch-{b:05d}.parquet"))
        feed.batches.append(batch)
        sent = pd.concat([sent, batch], ignore_index=True)
    return feed


def stream_rows_needed(n_batches: int, batch_rows: int) -> int:
    """Fresh generator rows :func:`stream_feed` consumes."""
    return batch_rows + (n_batches - 1) * (batch_rows - int(round(RESEND_SHARE * batch_rows)))


# ---------------------------------------------------------------------------
# corpus
# ---------------------------------------------------------------------------

_ONSETS = "b c d f g h j k l m n p r s t v w z br dr kr pl st tr".split()
_NUCLEI = "a e i o u ai ea io ou".split()


@dataclass
class Corpus:
    """Documents, their embeddings and the planted near-duplicate pairs."""

    frame: pd.DataFrame  # doc_id, text, emb
    planted: list[tuple[int, int]]  # (original id, copy id)
    vocab: list[str]
    centers: np.ndarray


def vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    words: set[str] = set()
    while len(words) < size:
        n = rng.integers(2, 4)
        words.add(
            "".join(
                _ONSETS[rng.integers(len(_ONSETS))] + _NUCLEI[rng.integers(len(_NUCLEI))]
                for _ in range(n)
            )
        )
    return sorted(words)


def corpus(
    seed: int,
    lane: int,
    n_docs: int,
    first_id: int,
    dup_share: float,
    vocab_size: int = 20_000,
    dim: int = 16,
    n_clusters: int = 24,
    base: pd.DataFrame | None = None,
    centers: np.ndarray | None = None,
) -> Corpus:
    """``n_docs`` documents of 40-80 Zipf-drawn words with clustered
    embeddings. ``dup_share`` of them are near-copies (one or two word
    substitutions, a nudged embedding) of an earlier document — of ``base``
    when given (a crawl batch against an existing corpus), else of a
    document of this batch."""
    rng = np.random.default_rng([seed, lane, 3])
    vocab = vocabulary(np.random.default_rng([seed, 0, 4]), vocab_size)
    if centers is None:
        centers = np.random.default_rng([seed, 0, 5]).normal(size=(n_clusters, dim))
    n_dups = int(round(dup_share * n_docs))
    n_orig = n_docs - n_dups
    texts: list[str] = []
    embs: list[np.ndarray] = []
    for _ in range(n_orig):
        words = _zipf_draw(rng, int(rng.integers(40, 81)), vocab_size, 1.05)
        texts.append(" ".join(vocab[w] for w in words))
        embs.append(centers[rng.integers(len(centers))] + 0.35 * rng.normal(size=dim))
    ids = list(range(first_id, first_id + n_docs))
    planted: list[tuple[int, int]] = []
    if base is not None:
        src_ids = base["doc_id"].to_numpy()
        src_text = base["text"].tolist()
        src_emb = [np.asarray(e) for e in base["emb"]]
    for j in range(n_dups):
        if base is not None:
            s = int(rng.integers(len(src_ids)))
            orig_id, words, emb = int(src_ids[s]), src_text[s].split(" "), src_emb[s]
        else:
            s = int(rng.integers(n_orig))
            orig_id, words, emb = ids[s], texts[s].split(" "), embs[s]
        words = list(words)
        for _ in range(int(rng.integers(1, 3))):
            words[int(rng.integers(len(words)))] = vocab[int(rng.integers(vocab_size))]
        texts.append(" ".join(words))
        embs.append(np.asarray(emb) + 0.01 * rng.normal(size=dim))
        planted.append((orig_id, ids[n_orig + j]))
    frame = pd.DataFrame(
        {"doc_id": np.asarray(ids, dtype=np.int64), "text": texts, "emb": [e.tolist() for e in embs]}
    )
    return Corpus(frame, planted, vocab, centers)


def shingles(text: str, k: int = 3) -> set[str]:
    """Python twin of ``functions.textfns.distinct_shingles`` over
    single-space-separated text: word k-grams, or the whole text when it
    has fewer than k words."""
    toks = text.split(" ")
    if len(toks) < k:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)
