"""Unit tests for dedup/similarity/join operators on crafted data."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from databricks_etl_pipelines_spark.operators.dedup import (
    MinHashCorpusIndex,
    exact_dedup,
    minhash_crossengine_pairs,
    minhash_lsh_candidates,
    minhash_lsh_dedup_pairs,
    ngram_jaccard_pairs,
    simhash_dedup_pairs,
)
from databricks_etl_pipelines_spark.operators.joins import salted_join
from databricks_etl_pipelines_spark.operators.similarity import (
    brute_force_cosine_topk,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill in the afternoon sun"
)
NEAR = BASE.replace("afternoon", "morning")
OTHER = "completely different words about spark shuffles and parquet files"


def _docs(spark):
    return spark.createDataFrame(
        [(0, BASE), (1, BASE), (2, NEAR), (3, OTHER)], "doc_id long, text string"
    )


def test_exact_dedup_keeps_one_copy(spark):
    out = exact_dedup(_docs(spark), "text", "doc_id")
    ids = sorted(r.doc_id for r in out.collect())
    assert ids == [0, 2, 3]  # doc 1 is an exact dup of doc 0


def test_minhash_lsh_finds_planted_near_dup(spark):
    pairs = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_dedup_pairs(
            _docs(spark), "text", "doc_id", threshold=0.5
        ).collect()
    }
    assert (0, 1) in pairs  # exact dup always collides
    assert (0, 2) in pairs or (1, 2) in pairs  # near dup found
    assert not any(3 in p for p in pairs)  # unrelated doc untouched


def test_ngram_jaccard_scores(spark):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            _docs(spark), "text", "doc_id", threshold=0.3
        ).collect()
    }
    assert pairs[(0, 1)] == 1.0
    assert 0.3 <= pairs[(0, 2)] < 1.0
    assert not any(3 in p for p in pairs)


def test_simhash_identical_docs_hamming_zero(spark):
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_dedup_pairs(
            _docs(spark), "text", "doc_id", max_hamming=3
        ).collect()
    }
    assert pairs[(0, 1)] == 0


def test_simhash_rejects_radius_beyond_pigeonhole_guarantee(spark):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="pigeonhole"):
        simhash_dedup_pairs(
            _docs(spark), "text", "doc_id", max_hamming=10, chunks=4
        )


def test_brute_force_topk_self_is_best(spark):
    vecs = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.9, 0.1, 0.0]),
            (2, [0.0, 1.0, 0.0]),
            (3, [-1.0, 0.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    top = brute_force_cosine_topk(vecs, "embedding", "vec_id", [1.0, 0.0, 0.0], 2)
    rows = top.collect()
    assert [r.vec_id for r in rows] == [0, 1]
    assert abs(rows[0].cosine_sim - 1.0) < 1e-12


def test_cosine_zero_norm_is_null_and_sorts_last(spark):
    """A zero-norm embedding (empty doc, dead feature) must yield NULL
    cosine on BOTH the expression and Arrow paths — not an ANSI
    DIVIDE_BY_ZERO (expression) or NaN (numpy, which Spark sorts ABOVE
    every double, letting a zero vector 'win' top-k)."""
    from databricks_etl_pipelines_spark.operators.similarity import (
        pandas_cosine_topk,
    )

    vecs = spark.createDataFrame(
        [(0, [0.0, 0.0, 0.0]), (1, [1.0, 0.0, 0.0]), (2, [0.5, 0.5, 0.0])],
        "vec_id long, embedding array<double>",
    )
    q = [1.0, 0.0, 0.0]
    expr = brute_force_cosine_topk(vecs, "embedding", "vec_id", q, 3).collect()
    arrow = pandas_cosine_topk(vecs, "embedding", "vec_id", q, 3).collect()
    assert [r.vec_id for r in expr] == [r.vec_id for r in arrow]
    assert expr[0].vec_id == 1 and expr[-1].vec_id == 0
    assert expr[-1].cosine_sim is None and arrow[-1].cosine_sim is None


def test_salted_join_matches_plain_join(spark, sf_dir):
    from databricks_etl_pipelines_spark.sources import table

    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders").withColumnRenamed(
        "o_custkey", "c_custkey"
    )
    plain = cust.join(orders, "c_custkey").count()
    salted = salted_join(cust, orders, "c_custkey", salt=8).count()
    assert plain == salted


def test_ivf_topk_recall_vs_brute_force(spark, sf_dir):
    from databricks_etl_pipelines_spark.operators.similarity import (
        brute_force_cosine_topk,
        ivf_topk,
    )
    from databricks_etl_pipelines_spark.sources import table

    emb = table(spark, sf_dir, "embeddings")
    qv = [float(x) for x in
          emb.orderBy("vec_id").first()["embedding"]]
    exact = {r.vec_id for r in
             brute_force_cosine_topk(emb, "embedding", "vec_id", qv, k=10).collect()}
    approx = {r.vec_id for r in
              ivf_topk(emb, "embedding", "vec_id", qv, k=10,
                       nlist=8, nprobe=4).collect()}
    # probing half the lists must recover most of the true top-10,
    # including the query vector itself (cosine 1.0)
    assert len(exact & approx) >= 6
    assert emb.orderBy("vec_id").first()["vec_id"] in approx


def test_byte_histogram_exact_values(spark):
    from databricks_etl_pipelines_spark.operators.multimodal import (
        byte_histogram_features,
        sample_chunks,
        to_binary_docs,
    )

    # "AAAA" = 4×0x41 → all mass in bin 4; "00zz": '0'=0x30 bin 3, 'z'=0x7a bin 7
    df = spark.createDataFrame(
        [(1, "AAAA"), (2, "00zz")], "doc_id long, text string"
    )
    docs = to_binary_docs(df, "text", "doc_id")
    got = {
        r.doc_id: (r.n_bytes, r.byte_histogram)
        for r in byte_histogram_features(docs).collect()
    }
    assert got[1][0] == 4
    assert got[1][1][4] == 1.0 and sum(got[1][1]) == 1.0
    assert got[2][1][3] == 0.5 and got[2][1][7] == 0.5

    chunks = sample_chunks(docs, n_chunks=2).collect()
    by_key = {(r.doc_id, r.chunk_id): r for r in chunks}
    assert len(chunks) == 4  # 2 docs × 2 chunks
    assert by_key[(1, 0)].energy == float(ord("A"))
    assert by_key[(2, 1)].energy == float(ord("z"))
    assert by_key[(2, 0)].chunk_bytes == 2


def test_minhash_consistent_with_exact_jaccard(spark):
    """Cross-operator consistency: every MinHash-verified pair must also be
    found by the exact prefix-filtered Jaccard join (same threshold, same
    hashed-shingle semantics), and recall on this high-similarity corpus
    must be near-total. Everything is seed-deterministic — no flake."""
    from databricks_etl_pipelines_spark.operators.dedup import (
        minhash_lsh_dedup_pairs,
        ngram_jaccard_pairs,
    )
    from databricks_etl_pipelines_spark.sources import table

    docs = table(spark, "/root/testdata/sf0.01", "documents")
    exact = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs, "text", "doc_id", 0.5, 3).collect()
    }
    mh = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_dedup_pairs(docs, "text", "doc_id", 0.5).collect()
    }
    assert mh <= exact                  # exact verification ⇒ no false pairs
    assert len(mh) >= 0.95 * len(exact)  # LSH recall at j≈0.9+ corpus
    assert len(exact) > 0


def test_persisted_ivf_index_build_probe(spark, sf_dir, tmp_path, monkeypatch):
    """IvfIndex.build_kmeans: one build, partition-pruned probes. The
    Spark-path probe scan must prune list directories (PartitionFilters),
    and the probe must keep good recall vs brute force."""
    from databricks_etl_pipelines_spark.operators import local_probe
    from databricks_etl_pipelines_spark.operators.similarity import (
        IvfIndex,
        brute_force_cosine_topk,
    )
    from databricks_etl_pipelines_spark.sources import table

    emb = table(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.orderBy("vec_id").first()["embedding"]]
    idx = IvfIndex(str(tmp_path / "ivf"))
    idx.build_kmeans(emb, "embedding", "vec_id", nlist=8, seed=42)
    probe = idx.probe(spark, qv, "vec_id", k=10, nprobe=4)
    with monkeypatch.context() as mp:  # a small probe runs on the driver
        mp.setattr(local_probe, "LOCAL_PROBE_MAX_BYTES", 0)
        spark_probe = idx.probe(spark, qv, "vec_id", k=10, nprobe=4)
    plan = spark_probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "list_id" in plan

    exact = {
        r.vec_id
        for r in brute_force_cosine_topk(
            emb, "embedding", "vec_id", qv, k=10
        ).collect()
    }
    got = {r.vec_id for r in probe.collect()}
    assert len(exact & got) >= 6
    # a second probe reuses the persisted lists — no rebuild, same result
    again = {
        r.vec_id
        for r in idx.probe(spark, qv, "vec_id", k=10, nprobe=4).collect()
    }
    assert again == got


def test_ivf_index_partitioned_probe_prunes(spark, sf_dir, tmp_path):
    """The IVF scale path: persist assignments partitioned by list_id; a
    probe of nprobe lists is then a partition-pruned scan (PartitionFilters
    in the plan), reading nprobe/nlist of the data."""
    from pyspark.sql import functions as F

    from databricks_etl_pipelines_spark.operators.similarity import ivf_index
    from databricks_etl_pipelines_spark.sources import table

    emb = table(spark, sf_dir, "embeddings")
    assigned, centroids = ivf_index(emb, "embedding", "vec_id", nlist=4)
    out = str(tmp_path / "ivf")
    assigned.write.mode("overwrite").partitionBy("list_id").parquet(out)

    index = spark.read.parquet(out)
    probe = index.filter(F.col("list_id").isin([0, 1]))
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "list_id" in plan
    assert probe.count() + index.filter(
        F.col("list_id").isin([2, 3])
    ).count() == index.count()


def test_bpe_tokens_and_rolling_fingerprint_exact(spark):
    from pyspark.sql import functions as F

    from databricks_etl_pipelines_spark.functions.textfns import (
        ROLLING_BASE,
        ROLLING_MOD,
        bpe_tokens,
        fingerprint_rolling,
    )

    df = spark.createDataFrame(
        [(1, "don't stop me now 123!"), (2, "abc")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.toks, r.fp)
        for r in df.select(
            "doc_id",
            bpe_tokens("text").alias("toks"),
            fingerprint_rolling("text").alias("fp"),
        ).collect()
    }
    # GPT-2-ish pretokenization: contraction split, leading-space runs
    assert got[1][0] == ["don", "'t", " stop", " me", " now", " 123", "!"]
    # Karp-Rabin over the exact char sequence
    def kr(s):
        h = 0
        for ch in s:
            h = (h * ROLLING_BASE + ord(ch)) % ROLLING_MOD
        return h
    assert got[1][1] == kr("don't stop me now 123!")
    assert got[2][1] == kr("abc")
    # order sensitivity: permuted text hashes differently
    assert kr("abc") != kr("cab")


def test_repetition_passages_contamination_planted(spark, tmp_path):
    """Planted-case semantics for the three repetition/contamination
    queries: exact ratios on a repetitive doc, positional passage sharing,
    and a benchmark 4-gram hit — plus the broadcast plan shape."""
    from databricks_etl_pipelines_spark.functions.textfns import word_passages
    from databricks_etl_pipelines_spark.plans.queries_llm import (
        curation_contamination_ngram,
        dedup_passages,
        text_repetition_signals,
    )

    shared = "p1 p2 p3 p4 p5 p6 p7 p8"
    docs = [
        (0, "w1 w2 w3 w4 w5"),          # benchmark doc (doc_id % 50 == 0)
        (1, "z0 w2 w3 w4 w5 z1"),       # shares 4-gram "w2 w3 w4 w5"
        (2, "a a a a b"),               # repetitive
        (3, f"{shared} x1 x2"),         # passage boundary match with 4
        (4, f"{shared} y1 y2 y3"),
    ]
    spark.createDataFrame(docs, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    sf = str(tmp_path)

    # word_passages: positional 8-word chunks, last one shorter
    got = spark.createDataFrame(
        [(docs[3][1],)], "text string"
    ).select(word_passages("text", 8).alias("p")).head()["p"]
    assert got == [shared, "x1 x2"]

    rep = {r.doc_id: r for r in text_repetition_signals(spark, sf).collect()}
    assert rep[2].n_words == 5
    assert rep[2].distinct_word_ratio == 0.4   # {a, b} of 5
    assert rep[2].top_word_ratio == 0.8        # 'a' ×4
    assert rep[2].dup_bigram_ratio == 0.5      # {aa, ab} of 4 bigrams
    assert rep[1].dup_bigram_ratio == 0.0      # all-unique text

    pas = {r.doc_id: r for r in dedup_passages(spark, sf).collect()}
    for d in (3, 4):
        assert (pas[d].n_passages, pas[d].n_dup_passages) == (2, 1)
        assert pas[d].dup_passage_ratio == 0.5
    assert pas[2].n_dup_passages == 0

    contam = curation_contamination_ngram(spark, sf)
    plan = contam._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # benchmark grams never shuffle
    rows = contam.collect()
    assert [(r.doc_id, r.n_hit_grams) for r in rows] == [(1, 1)]


def test_minhash_corpus_index_incremental_dedup(spark, tmp_path):
    """Incremental crawl dedup: build the index over the corpus once, screen
    a new batch against it (only the batch is re-shingled), then add() and
    confirm the next batch screens against the newly indexed docs too."""
    from databricks_etl_pipelines_spark.operators.dedup import (
        MinHashCorpusIndex,
    )

    corpus = spark.createDataFrame(
        [(0, BASE), (3, OTHER)], "doc_id long, text string"
    )
    idx = MinHashCorpusIndex.build(
        corpus, "text", "doc_id", str(tmp_path / "mh")
    )

    fresh = (
        "entirely new sentences about glaciers carving valleys through "
        "mountain ranges over thousands of patient years"
    )
    batch1 = spark.createDataFrame(
        [(100, NEAR), (101, fresh)], "doc_id long, text string"
    )
    matches = {
        (r.new_id, r.corpus_id): r.jaccard
        for r in idx.match_new(
            spark, batch1, "text", "doc_id", threshold=0.5
        ).collect()
    }
    assert (100, 0) in matches          # near-dup of corpus doc 0 caught
    assert matches[(100, 0)] >= 0.5
    assert not any(n == 101 for n, _ in matches)  # fresh doc passes

    # index the fresh doc; a later near-copy of it must now be caught
    idx.add(spark, batch1.filter("doc_id = 101"), "text", "doc_id")
    batch2 = spark.createDataFrame(
        [(200, fresh.replace("patient", "quiet"))], "doc_id long, text string"
    )
    m2 = {
        (r.new_id, r.corpus_id)
        for r in idx.match_new(
            spark, batch2, "text", "doc_id", threshold=0.5
        ).collect()
    }
    assert (200, 101) in m2


def test_downsample_composes_with_stats(spark):
    """Resize-analog plumbing: every-4th-byte downsample chains into
    binary_stats with exact, predictable values."""
    import hashlib

    from databricks_etl_pipelines_spark.operators.multimodal import (
        binary_stats,
        downsample_payload,
        to_binary_docs,
    )

    df = spark.createDataFrame(
        [(1, "abcdefghij"), (2, "xy")], "doc_id long, text string"
    )
    shrunk = downsample_payload(to_binary_docs(df, "text", "doc_id"), 4)
    got = {r.doc_id: r for r in binary_stats(shrunk).collect()}
    assert got[1].n_bytes == 3  # bytes at offsets 0,4,8 -> 'a','e','i'
    assert got[1].payload_sha256 == hashlib.sha256(b"aei").hexdigest()
    assert got[2].n_bytes == 1
    assert got[2].payload_sha256 == hashlib.sha256(b"x").hexdigest()
    # metadata composes too
    fmt = {r.doc_id: r.media_format for r in shrunk.collect()}
    assert fmt[1] == "utf-8;ds4"


def test_pq_ivf_adc_probe_recall(spark, sf_dir, tmp_path):
    """PQ-lite: ADC over uint8 codes + exact re-rank must recover most of
    the true top-10 while scanning only nprobe lists (partition-pruned)."""
    from databricks_etl_pipelines_spark.operators.similarity import (
        IvfIndex,
        brute_force_cosine_topk,
    )
    from databricks_etl_pipelines_spark.sources import table

    emb = table(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.orderBy("vec_id").first()["embedding"]]
    assert len(qv) % 4 == 0
    idx = IvfIndex(str(tmp_path / "pq"))
    idx.build_pq(emb, "embedding", "vec_id", nlist=8, m=4, k=16, seed=42)
    probe = idx.probe_pq(spark, qv, kk=10, nprobe=4, rerank=60)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "list_id" in plan

    exact = {
        r.vec_id
        for r in brute_force_cosine_topk(
            emb, "embedding", "vec_id", qv, k=10
        ).collect()
    }
    got = {r.vec_id for r in probe.collect()}
    assert len(exact & got) >= 5  # coarse quantization, small rerank budget
    assert emb.orderBy("vec_id").first()["vec_id"] in got  # self always found


def test_pq_residual_beats_plain_quantization(spark, sf_dir, tmp_path):
    """IVFADC residual encoding (quantize v - coarse_centroid) must cut
    reconstruction error vs quantizing raw vectors with the same codebook
    budget — the whole point of the residual step (Jégou et al. 2011 §III)."""
    import json

    import numpy as np

    from databricks_etl_pipelines_spark.operators.similarity import IvfIndex
    from databricks_etl_pipelines_spark.sources import table

    emb = table(spark, sf_dir, "embeddings")

    def recon_mse(root, residual):
        idx = IvfIndex(root)
        idx.build_pq(
            emb, "embedding", "vec_id",
            nlist=8, m=4, k=16, seed=42, residual=residual,
        )
        with open(f"{root}/pq_meta.json") as f:
            pq = json.load(f)
        assert pq["residual"] is residual  # meta round-trips the flag
        cb = np.asarray(pq["codebooks"])  # m × k × sub
        cents = {c: np.asarray(v) for c, v in idx._centroid_rows()}
        rows = spark.read.parquet(f"{root}/lists").collect()
        errs = []
        for r in rows:
            v = np.asarray(r["v"])
            recon = np.concatenate([cb[j][r["codes"][j]] for j in range(4)])
            if residual:
                recon = recon + cents[r["list_id"]]
            errs.append(((v - recon) ** 2).sum())
        return float(np.mean(errs))

    mse_res = recon_mse(str(tmp_path / "pq_res"), True)
    mse_plain = recon_mse(str(tmp_path / "pq_plain"), False)
    # synthetic embeddings are near-uniform, so the coarse residuals only
    # concentrate mildly (~7% here); pin strict deterministic improvement
    assert mse_res < mse_plain * 0.99


def test_python_datasource_partitions_and_determinism(spark):
    """Spark-4 Python DataSource: the reader's InputPartitions become real
    parallel splits (4 distinct task partitions), ids cover the range
    exactly once, and two reads are identical."""
    from pyspark.sql import functions as F

    from databricks_etl_pipelines_spark.sources import pydatasource

    pydatasource.register(spark)
    df = (
        spark.read.format("synthetic_docs")
        .option("rows", 100).option("n_partitions", 4).load()
    )
    parts = df.select(
        F.spark_partition_id().alias("p"), "doc_id"
    ).groupBy("p").count().collect()
    assert len(parts) == 4 and all(r["count"] == 25 for r in parts)
    ids = [r.doc_id for r in df.select("doc_id").collect()]
    assert sorted(ids) == list(range(100))
    a = {(r.doc_id, r.text) for r in df.collect()}
    b = {(r.doc_id, r.text) for r in df.collect()}
    assert a == b
    # generator-side n_words matches the text it generated
    bad = df.filter(
        F.size(F.split("text", " ")) != F.col("n_words")
    ).count()
    assert bad == 0


def test_python_datasource_jsonl_sink_two_phase_commit(spark, sf_dir, tmp_path):
    """Custom Python sink: per-task tmp files publish only at driver-side
    commit (no .tmp leftovers), and the JSONL round-trips every row."""
    import glob
    import json

    from databricks_etl_pipelines_spark.sources import pydatasource, table

    pydatasource.register_sink(spark)
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang")
    out = str(tmp_path / "jsonl")
    docs.repartition(3).write.format("jsonl_sink").option(
        "path", out
    ).mode("append").save()

    assert not glob.glob(f"{out}/*.tmp")  # two-phase: nothing unpublished
    files = sorted(glob.glob(f"{out}/*.jsonl"))
    assert len(files) == 3  # one published file per partition
    rows = [json.loads(line) for f in files for line in open(f)]
    assert len(rows) == docs.count()
    assert {r["doc_id"] for r in rows} == {
        r.doc_id for r in docs.collect()
    }


def test_resample_forward_fill_planted(spark):
    """Dense grid + forward fill: gap hours appear with n_events=0 carrying
    the last value; within-hour 'last' follows the (ts, tiebreak) total
    order; a key's fill never leaks into another key."""
    from databricks_etl_pipelines_spark.operators.windows import (
        resample_forward_fill,
    )

    rows = [
        (1, "2024-01-01 10:15:00", 101, 1.0),
        (1, "2024-01-01 10:45:00", 102, 2.0),
        (1, "2024-01-01 13:05:00", 103, 3.0),
        (2, "2024-01-01 11:30:00", 104, 9.0),
        # same-ts tie inside one bucket: higher event_id must win
        (3, "2024-01-01 00:00:00", 105, 5.0),
        (3, "2024-01-01 00:00:00", 106, 6.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts_s string, event_id long, value double"
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    out = resample_forward_fill(df, "user_id", "ts", "value", "event_id")
    got = {
        (r.user_id, r.bucket_ts.hour): (r.n_events, r.value_ff)
        for r in out.collect()
    }
    assert got[(1, 10)] == (2, 2.0)
    assert got[(1, 11)] == (0, 2.0)   # gap hour, filled
    assert got[(1, 12)] == (0, 2.0)
    assert got[(1, 13)] == (1, 3.0)
    assert got[(2, 11)] == (1, 9.0)   # single-bucket key: no gaps
    assert (2, 12) not in got         # grid ends at the key's max bucket
    assert got[(3, 0)] == (2, 6.0)    # tie broken by event_id
    assert len(got) == 6


def test_corpus_drift_report_planted(spark):
    """Share math + full-outer semantics: a key present only in snapshot A
    (or only B) must surface with the other side's share 0."""
    from databricks_etl_pipelines_spark.operators.curation import (
        corpus_drift_report,
    )

    schema = "doc_id long, source string, lang string, ntok long"
    a = spark.createDataFrame(
        [(1, "web", "en", 60), (2, "web", "en", 20), (3, "books", "de", 20)],
        schema,
    )
    b = spark.createDataFrame(
        [(4, "web", "en", 50), (5, "code", "en", 50)], schema
    )
    out = {
        (r.dim, r.key): r
        for r in corpus_drift_report(a, b, ["source", "lang"], "ntok").collect()
    }
    web = out[("source", "web")]
    assert (web.docs_a, web.docs_b) == (2, 1)
    assert (web.token_share_a, web.token_share_b) == (0.8, 0.5)
    assert out[("source", "books")].token_share_b == 0.0   # A-only key
    assert out[("source", "code")].token_share_a == 0.0    # B-only key
    assert out[("source", "code")].share_delta == 0.5
    assert out[("lang", "de")].docs_b == 0
    # distinct (dim, key) pairs: web/books/code + en/de
    assert len(out) == 5


def test_round3_query_plan_shapes(spark, sf_dir):
    """Pin the audited physical-plan properties of the round-3 queries so a
    refactor can't silently regress them: Q3 must be TakeOrderedAndProject
    (never a global sort) with both date predicates pushed to the scans;
    winsorize+zscore must never shuffle fact rows (every Exchange carries
    only aggregate state)."""
    from databricks_etl_pipelines_spark import catalog

    catalog.load_all()
    q3 = catalog.QUERIES["join_shipping_priority_topk"](spark, sf_dir)
    plan = q3._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan  # top-k is heap-merged, not globally sorted
    assert plan.count("PushedFilters: [IsNotNull") >= 3
    assert "LessThan(o_orderdate" in plan and "GreaterThan(l_shipdate" in plan

    wz = catalog.QUERIES["agg_winsorize_zscore"](spark, sf_dir)
    plan = wz._jdf.queryExecution().executedPlan().toString()
    # hash exchanges exist only between partial/final aggregates — their
    # inputs are partial_* aggregate states, never raw event rows
    for chunk in plan.split("Exchange hashpartitioning")[1:]:
        first_op = chunk.split("+- ")[1].split("(")[0].strip()
        assert first_op in ("HashAggregate", "ObjectHashAggregate"), first_op


def test_bmp_decode_golden_bytes():
    """Decode a BMP serialized by an INDEPENDENT hand-rolled writer (struct
    literals, not bmp_encode) so a shared encoder/decoder bug cannot
    self-certify: stride padding, bottom-up row order, and BGR sample
    order must all be undone to recover these exact RGB pixels."""
    import numpy as np

    from databricks_etl_pipelines_spark.operators.multimodal import bmp_decode

    golden = (
        b"BMN\x00\x00\x00\x00\x00\x00\x006\x00\x00\x00(\x00\x00\x00"
        b"\x03\x00\x00\x00\x02\x00\x00\x00\x01\x00\x18\x00\x00\x00\x00\x00"
        b"\x18\x00\x00\x00\x00\x00\x00\x00\x00\x00\x00\x00\x00\x00\x00\x00"
        b"\x00\x00\x00\x00"
        b"\x1e\x14\n<2(ZPF\x00\x00\x00"      # bottom row BGR + pad
        b"\x00\x00\xff\x00\xff\x00\xff\x00\x00\x00\x00\x00"  # top row + pad
    )
    rgb = bmp_decode(golden)
    expect = np.array(
        [[[255, 0, 0], [0, 255, 0], [0, 0, 255]],
         [[10, 20, 30], [40, 50, 60], [70, 80, 90]]],
        dtype=np.uint8,
    )
    assert rgb.shape == (2, 3, 3)
    assert (rgb == expect).all()


def test_bmp_codec_round_trip_and_errors():
    import numpy as np
    import pytest as _pytest

    from databricks_etl_pipelines_spark.operators.multimodal import (
        bmp_decode,
        bmp_encode,
    )

    rng = np.random.default_rng(7)
    for h, w in [(1, 1), (3, 4), (5, 7), (2, 2)]:
        rgb = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        assert (bmp_decode(bmp_encode(rgb)) == rgb).all()

    with _pytest.raises(ValueError, match="not a BMP"):
        bmp_decode(b"XX" + b"\x00" * 60)
    bad = bytearray(bmp_encode(rng.integers(0, 256, (2, 2, 3), dtype=np.uint8)))
    bad[28:30] = (8).to_bytes(2, "little")  # claim 8-bit palette BMP
    with _pytest.raises(ValueError, match="unsupported BMP variant"):
        bmp_decode(bytes(bad))
    with _pytest.raises(ValueError, match="truncated"):
        bmp_decode(bytes(bmp_encode(
            rng.integers(0, 256, (4, 4, 3), dtype=np.uint8))[:-8]))


def test_decode_image_pipeline_on_spark(spark):
    """encode → decode → channel stats through the real mapInPandas stages;
    values checked against the closed-form pixel formula."""
    from databricks_etl_pipelines_spark.operators.multimodal import (
        decode_image,
        decoded_channel_stats,
        synthetic_bmp_images,
    )

    ids = spark.range(0, 12).selectExpr("id as doc_id")
    out = decoded_channel_stats(
        decode_image(synthetic_bmp_images(ids))
    ).collect()
    assert len(out) == 12
    for r in out:
        i = r.doc_id
        w, h = 4 + i % 5, 3 + i % 4
        ks = range(w * h)
        assert (r.width, r.height, r.channels) == (w, h, 3)
        assert r.r_sum == sum((i * 7 + 3 * k) % 256 for k in ks)
        assert r.g_sum == sum((i * 13 + 5 * k) % 256 for k in ks)
        assert r.b_sum == sum((i * 31 + 11 * k) % 256 for k in ks)
        assert r.pos_checksum == sum(
            k * ((i * 7 + 3 * k) % 256 + (i * 13 + 5 * k) % 256
                 + (i * 31 + 11 * k) % 256) for k in ks
        )


def test_patch_embeddings_rejects_oversized_grid(spark):
    """A grid finer than the image (some patch gets zero pixels) must
    raise a clear ValueError naming the doc and dimensions, not a
    ZeroDivisionError buried in a Py4J stack."""
    import pytest

    from databricks_etl_pipelines_spark.operators.multimodal import (
        decode_image,
        patch_embeddings,
        synthetic_bmp_images,
    )

    ids = spark.range(0, 3).selectExpr("id as doc_id")  # smallest image 3px tall
    decoded = decode_image(synthetic_bmp_images(ids))
    with pytest.raises(Exception, match="grid=16 exceeds image dimensions"):
        patch_embeddings(decoded, grid=16).collect()
    # a legal grid still works
    assert patch_embeddings(decoded, grid=2).count() == 3 * 2 * 2 * 3


def test_aqe_skew_join_split_fires_on_skewed_data(spark):
    """Evidence for the AQE skew path: on a join with one melting-hot key,
    AQE's OptimizeSkewedJoin must split the skewed partition (final
    adaptive plan shows `skew=true` on the sort-merge join). This is the
    zero-code-change remedy; `salted_join` is the fallback when AQE can't
    apply — right/full outer shapes it refuses, or a skewed AGGREGATION
    upstream of the join (AQE only splits join inputs, never a groupBy —
    salting the grouping key is the only fix there)."""
    from pyspark.sql import functions as F

    confs = {
        # force SMJ (no broadcast), and shrink the skew thresholds so a
        # local-sized hot partition counts as skewed
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # 95% of left rows share key 0 -> one hot shuffle partition
        left = spark.range(0, 60_000).select(
            F.when(F.col("id") % 20 != 0, 0).otherwise(F.col("id"))
            .alias("k"),
            F.concat(F.lit("payload-"), F.col("id")).alias("pad"),
        )
        right = spark.range(0, 20_000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        joined = left.join(right, "k")
        # execute THIS DataFrame's QueryExecution (a write/count would
        # build a fresh one and leave this plan isFinalPlan=false)
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan, plan[:500]
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_minhash_crossengine_subset_of_lossless_jaccard(spark, sf_dir):
    """The cross-engine LSH variant may only ever MISS pairs relative to
    the lossless prefix-filtered Jaccard join (banding bounds recall, the
    verify threshold is identical) — it must never invent one — and its
    output is deterministic across runs (pure hash family, no seeds)."""
    from databricks_etl_pipelines_spark.operators.dedup import (
        minhash_crossengine_pairs,
        ngram_jaccard_pairs,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    xe = {
        (r.id_a, r.id_b)
        for r in minhash_crossengine_pairs(
            docs, "text", "doc_id", threshold=0.5
        ).collect()
    }
    lossless = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(
            docs, "text", "doc_id", threshold=0.5
        ).collect()
    }
    assert xe <= lossless
    assert xe  # non-vacuous on the test corpus
    xe2 = {
        (r.id_a, r.id_b)
        for r in minhash_crossengine_pairs(
            docs, "text", "doc_id", threshold=0.5
        ).collect()
    }
    assert xe == xe2


def test_simhash_crossengine_blocking_recall_equals_brute_force(spark, sf_dir):
    """Pigeonhole blocking with the cross-engine hash family must find
    EXACTLY the pairs a brute-force all-pairs hamming scan finds at the
    guaranteed radius (chunks=4 -> hamming <= 3): blocking is a pure
    optimization, never a semantics change."""
    from pyspark.sql import functions as F

    from databricks_etl_pipelines_spark.operators.dedup import (
        crossengine_feature_hash,
        simhash_dedup_pairs,
        simhash_signatures,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    blocked = {
        (r.id_a, r.id_b)
        for r in simhash_dedup_pairs(
            docs, "text", "doc_id", max_hamming=3, chunks=4,
            hash_expr=crossengine_feature_hash,
        ).collect()
    }
    sigs = simhash_signatures(
        docs, "text", "doc_id", hash_expr=crossengine_feature_hash
    )
    a = sigs.select(F.col("id").alias("id_a"), F.col("simhash").alias("sa"))
    b = sigs.select(F.col("id").alias("id_b"), F.col("simhash").alias("sb"))
    brute = {
        (r.id_a, r.id_b)
        for r in a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.expr("bit_count(sa ^ sb)") <= 3)
        .collect()
    }
    assert blocked == brute


def test_ivf_deterministic_full_probe_equals_brute_force(spark, sf_dir):
    """Probing EVERY list makes deterministic-centroid IVF exhaustive, so
    its top-k must equal brute force exactly; a partial probe keeps the
    query's own vector (cosine 1.0) and stays a subset of the corpus."""
    from databricks_etl_pipelines_spark.operators.similarity import (
        brute_force_cosine_topk,
        ivf_topk_deterministic,
    )
    from databricks_etl_pipelines_spark.sources import table

    emb = table(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.orderBy("vec_id").first()["embedding"]]
    exact = [
        (r.vec_id, round(r.cosine_sim, 9))
        for r in brute_force_cosine_topk(
            emb, "embedding", "vec_id", qv, k=10
        ).collect()
    ]
    full = [
        (r.vec_id, round(r.cosine_sim, 9))
        for r in ivf_topk_deterministic(
            emb, "embedding", "vec_id", qv, k=10, nlist=16, nprobe=16
        ).collect()
    ]
    assert full == exact
    part = {
        r.vec_id
        for r in ivf_topk_deterministic(
            emb, "embedding", "vec_id", qv, k=10, nlist=16, nprobe=4
        ).collect()
    }
    assert emb.orderBy("vec_id").first()["vec_id"] in part
    assert len(part) == 10


def test_kmeans_lloyd_planted_clusters_and_empty_cluster(spark):
    """Planted semantics for the deterministic Lloyd's loop. (a) Three
    tight well-separated 2-D blobs with one strided seed per blob
    recover their ground-truth grouping exactly, and after convergence
    every point sits within the blob radius of its centroid. (b) A
    corpus of identical points with two coincident seeds: the tie rule
    sends everything to the lower cluster, so cluster 1 is EMPTY from
    iteration 1 and must keep its previous centroid via the COALESCE
    path — distances stay finite-zero instead of NaN-poisoned."""
    from databricks_etl_pipelines_spark.operators.similarity import (
        kmeans_lloyd_deterministic,
    )

    blobs = {0: (0.0, 0.0), 1: (10.0, 10.0), 2: (-10.0, 5.0)}
    rows = []
    for b, (cx, cy) in blobs.items():
        for j in range(5):
            rows.append((b * 5 + j, [cx + 0.01 * j, cy - 0.01 * j]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # stride 5 -> seeds are ids 0, 5, 10: one per blob
    out = kmeans_lloyd_deterministic(
        emb, "embedding", "vec_id", k=3, iters=3, centroid_stride=5
    ).collect()
    got = {r.id: r.cluster for r in out}
    for b in blobs:
        assert {got[b * 5 + j] for j in range(5)} == {got[b * 5]}, b
    assert len({got[0], got[5], got[10]}) == 3
    # blob diameter is 0.04*sqrt(2): squared dist to the blob mean < 0.004
    assert all(r.d < 0.004 for r in out)

    dup = spark.createDataFrame(
        [(i, [1.0, 1.0]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    out2 = kmeans_lloyd_deterministic(
        dup, "embedding", "vec_id", k=2, iters=3, centroid_stride=1
    ).collect()
    assert {r.cluster for r in out2} == {0}
    assert all(r.d == 0.0 for r in out2)


def test_batch_cosine_topk_matches_per_query_brute_force(spark, sf_dir):
    """The batched broadcast form returns, per query, exactly the single-
    query brute-force top-k (same members, same rank order)."""
    from databricks_etl_pipelines_spark.operators.similarity import (
        batch_cosine_topk,
        brute_force_cosine_topk,
    )
    from databricks_etl_pipelines_spark.sources import table
    from pyspark.sql import functions as F

    emb = table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 3).select("vec_id", "embedding")
    batched = batch_cosine_topk(
        emb, "embedding", "vec_id", qs, "vec_id", "embedding", k=5
    ).collect()
    by_q = {}
    for r in batched:
        by_q.setdefault(r.query_id, []).append((r.rank, r.vec_id))
    assert set(by_q) == {0, 1, 2}
    for r in qs.collect():
        single = [
            x.vec_id
            for x in brute_force_cosine_topk(
                emb, "embedding", "vec_id",
                [float(v) for v in r.embedding], k=5,
            ).collect()
        ]
        assert [v for _, v in sorted(by_q[r.vec_id])] == single


def test_pq_adc_deterministic_full_candidates_equals_brute_force(spark, sf_dir):
    """With the candidate cut widened to the whole corpus the exact
    re-rank dominates, so deterministic-codebook PQ-ADC must return
    brute force's top-k; the default narrow cut keeps the query vector
    itself (ADC distance 0 to its own codes is not guaranteed, but the
    re-rank's cosine 1.0 is) and decent overlap."""
    from databricks_etl_pipelines_spark.operators.similarity import (
        brute_force_cosine_topk,
        pq_adc_topk_deterministic,
    )
    from databricks_etl_pipelines_spark.sources import table

    emb = table(spark, sf_dir, "embeddings")
    n = emb.count()
    qv = [float(x) for x in emb.orderBy("vec_id").first()["embedding"]]
    exact = [
        (r.vec_id, round(r.cosine_sim, 9))
        for r in brute_force_cosine_topk(
            emb, "embedding", "vec_id", qv, k=10
        ).collect()
    ]
    wide = [
        (r.vec_id, round(r.cosine_sim, 9))
        for r in pq_adc_topk_deterministic(
            emb, "embedding", "vec_id", qv, k=10, candidates=n
        ).collect()
    ]
    assert wide == exact
    narrow = {
        r.vec_id
        for r in pq_adc_topk_deterministic(
            emb, "embedding", "vec_id", qv, k=10, candidates=50
        ).collect()
    }
    assert emb.orderBy("vec_id").first()["vec_id"] in narrow
    assert len(narrow & {v for v, _ in exact}) >= 3


def test_semdedup_deterministic_pairs_subset_of_brute_force(spark, sf_dir):
    """Deterministic-centroid SemDeDup pairs are a subset of the brute-
    force cosine pairs at the same threshold (blocking only loses
    cross-cluster pairs, never invents one), non-vacuous, and with
    n_clusters=1 the blocked scan IS brute force."""
    from pyspark.sql import functions as F

    from databricks_etl_pipelines_spark.operators.dedup import (
        embedding_cosine_pairs,
        semantic_dedup_pairs_deterministic,
    )
    from databricks_etl_pipelines_spark.sources import table

    emb = table(spark, sf_dir, "embeddings")
    blocked = {
        (r.id_a, r.id_b)
        for r in semantic_dedup_pairs_deterministic(
            emb, "embedding", "vec_id", threshold=0.3, n_clusters=16
        ).collect()
    }
    brute = {
        (r.id_a, r.id_b)
        for r in embedding_cosine_pairs(
            emb, "embedding", "vec_id", threshold=0.3, sign_bits=0
        ).collect()
    }
    assert blocked
    assert blocked <= brute
    single = {
        (r.id_a, r.id_b)
        for r in semantic_dedup_pairs_deterministic(
            emb, "embedding", "vec_id", threshold=0.3, n_clusters=1
        ).collect()
    }
    assert single == brute


def test_hash_embed_integer_exact_and_retrieval_sane(spark):
    """Feature-hash embeddings on a planted corpus: duplicate texts get
    identical sparse rows and cosine 1.0 to each other; a disjoint-token
    doc shares no bucket mass with high similarity; values are integers
    and the embedder is reproducible."""
    from databricks_etl_pipelines_spark.operators.similarity import (
        hash_embed_buckets,
        hash_embed_cosine_topk,
    )

    rows = [
        (0, "alpha beta gamma delta epsilon zeta"),
        (1, "alpha beta gamma delta epsilon zeta"),   # exact dup of 0
        (2, "alpha beta gamma delta other words"),    # partial overlap
        (3, "completely different tokens entirely here now"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    emb = hash_embed_buckets(docs, "text", "doc_id").collect()
    by_doc = {}
    for r in emb:
        assert isinstance(r.val, int)
        by_doc.setdefault(r.id, {})[r.bucket] = r.val
    assert by_doc[0] == by_doc[1]
    topk = hash_embed_cosine_topk(
        docs, "text", "doc_id", query_id=0, k=3
    ).collect()
    ranked = [(r.doc_id, r.cosine_sim) for r in topk]
    assert ranked[0] == (1, 1.0)                 # the dup, exactly 1.0
    assert ranked[1][0] == 2                     # partial overlap next
    assert all(r[1] <= 1.0 for r in ranked)
    again = hash_embed_buckets(docs, "text", "doc_id").collect()
    assert sorted(map(tuple, emb)) == sorted(map(tuple, again))


# family -> (batch pair operator, num_perm, bands) the index is compared with
_BATCH_PAIRS = {
    "xxhash64": (minhash_lsh_dedup_pairs, 32, 8),
    "crossengine": (minhash_crossengine_pairs, 16, 4),
}


@pytest.mark.parametrize("family", ["xxhash64", "crossengine"])
def test_crossengine_corpus_index_matches_batch_pipeline(
    spark, sf_dir, tmp_path, family
):
    """The persisted index's screening equals the batch pair pipeline of
    the same family restricted to (corpus, batch) pairs — the incremental
    path loses nothing vs recomputing from scratch."""
    from databricks_etl_pipelines_spark.sources import table

    pair_fn, num_perm, bands = _BATCH_PAIRS[family]
    docs = table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    idx = MinHashCorpusIndex.build(
        corpus, "text", "doc_id", str(tmp_path / "xidx"),
        num_perm=num_perm, bands=bands, shingle_k=3, family=family,
    )
    incr = {
        (r.corpus_id, r.new_id, round(r.jaccard, 9))
        for r in idx.match_new(
            spark, batch, "text", "doc_id", threshold=0.5
        ).collect()
    }
    full = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in pair_fn(
            docs, "text", "doc_id", num_perm=num_perm, bands=bands,
            threshold=0.5,
        ).collect()
        # (even, odd) pairs only; batch pipeline orders id_a < id_b, and
        # an even corpus id may sit on either side
    }
    full_eo = {
        (a, b, j) if a % 2 == 0 else (b, a, j) for a, b, j in full
        if (a % 2) != (b % 2)
    }
    assert incr == full_eo
    assert incr  # non-vacuous on the real corpus


# family -> the batch operator that applies max_bucket to its candidates
_CAPPED = {
    "xxhash64": minhash_lsh_candidates,
    "crossengine": minhash_crossengine_pairs,
}


@pytest.mark.parametrize("family", ["xxhash64", "crossengine"])
def test_minhash_bucket_cap_drops_hot_buckets(spark, tmp_path, family):
    """The boilerplate guardrail: k identical docs fill every band bucket
    with k members, so a cap below k drops all their pairs and a cap at k
    keeps all of them. The index caps its corpus side the same way."""
    k = 4
    same = spark.createDataFrame(
        [(i, BASE) for i in range(k)], "doc_id long, text string"
    )
    every = {(a, b) for a in range(k) for b in range(a + 1, k)}

    def pairs(cap):
        return {
            (r.id_a, r.id_b)
            for r in _CAPPED[family](
                same, "text", "doc_id", max_bucket=cap
            ).collect()
        }

    assert pairs(k - 1) == set()
    assert pairs(k) == every

    idx = MinHashCorpusIndex.build(
        same, "text", "doc_id", str(tmp_path / "mh"), family=family
    )
    one = spark.createDataFrame([(100, BASE)], "doc_id long, text string")

    def matches(cap):
        return idx.match_new(
            spark, one, "text", "doc_id", max_bucket=cap
        ).count()

    assert matches(k - 1) == 0
    assert matches(k) == k


def test_unknown_minhash_family_raises(spark, tmp_path):
    """A misspelt family names both real ones instead of silently running
    xxhash64 under the wrong name: the index writes nothing, and the near-
    dup stream fails before it starts."""
    from databricks_etl_pipelines_spark.sources.managed_table import ManagedTable
    from databricks_etl_pipelines_spark.streaming.structured import (
        curation_ingest_neardup,
    )

    root = tmp_path / "mh"
    with pytest.raises(ValueError, match="crossengine.*xxhash64"):
        MinHashCorpusIndex.build(
            _docs(spark), "text", "doc_id", str(root), family="crossEngine"
        )
    assert not root.exists()

    src = str(tmp_path / "src")
    _docs(spark).write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    with pytest.raises(ValueError, match="crossengine.*xxhash64"):
        curation_ingest_neardup(
            stream, ManagedTable(str(tmp_path / "accepted")),
            str(tmp_path / "idx"), str(tmp_path / "ckpt"),
            family="crossEngine",
        )


def test_duplicated_span_report_planted(spark):
    """Planted 4-gram repeats: exact dup-window counts and exact interval-
    UNION coverage (overlapping windows must not double-count tokens)."""
    from databricks_etl_pipelines_spark.operators.dedup import (
        duplicated_span_report,
    )

    docs = spark.createDataFrame(
        [
            (0, "a b c d e f g h"),      # shares [a b c d], [b c d e]
            (1, "x x a b c d y y"),      # shares [a b c d]
            (2, "p q r s t"),            # nothing shared
            (3, "a b c d e z z z"),      # shares both with doc 0
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in duplicated_span_report(
            docs, "text", "doc_id", n=4, min_docs=2
        ).collect()
    }
    assert (out[0].dup_ngrams, out[0].covered_tokens) == (2, 5)  # 0..3 U 1..4
    assert out[0].dup_fraction == 0.625
    assert (out[1].dup_ngrams, out[1].covered_tokens) == (1, 4)
    assert (out[2].n_tokens, out[2].dup_ngrams, out[2].covered_tokens) == (5, 0, 0)
    assert (out[3].dup_ngrams, out[3].covered_tokens) == (2, 5)


def _reference_bpe(word_freqs, num_merges):
    """Independent pure-Python BPE (Sennrich 2016) — list-walking merge
    application, dict-based pair counting; shares no code with the
    operator under test."""
    enc = {w: list(w) for w in word_freqs}
    merges = []
    for _ in range(num_merges):
        counts = {}
        for w, f in word_freqs.items():
            sy = enc[w]
            for a, b in zip(sy, sy[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        (l, r), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((l, r, cnt))
        for w, sy in enc.items():
            out, i = [], 0
            while i < len(sy):
                if i + 1 < len(sy) and sy[i] == l and sy[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(sy[i])
                    i += 1
            enc[w] = out
    return merges, enc


def test_bpe_train_matches_independent_reference(spark):
    """Distributed trainer == list-walking reference on a corpus with
    known subword structure, including merges that consume earlier merge
    products and repeated-letter overlap handling."""
    from databricks_etl_pipelines_spark.operators.bpe import (
        encode_stats,
        train_bpe,
    )

    texts = [
        (0, "low lower lowest low low"),
        (1, "new newer newest new newer"),
        (2, "wide wider widest wide"),
        (3, "aaa aaaa aa low new"),       # overlap: merge(a,a) left-to-right
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    words = {}
    for _, t in texts:
        for w in t.split():
            words[w] = words.get(w, 0) + 1
    ref_merges, ref_enc = _reference_bpe(words, 10)
    got = train_bpe(df, "text", num_merges=10, max_words=1000)
    assert got == ref_merges
    # per-doc token counts after encoding match the reference walk
    stats = {
        r.doc_id: r.n_bpe_tokens
        for r in encode_stats(df, "text", "doc_id", got, 1000).collect()
    }
    for doc_id, t in texts:
        expect = sum(len(ref_enc[w]) for w in t.split())
        assert stats[doc_id] == expect, (doc_id, stats[doc_id], expect)


def test_bpe_driver_loop_matches_spark_loop(spark, sf_dir):
    """The driver-local merge loop (default, O(1) Spark jobs) learns the
    EXACT merge sequence of the distributed per-merge-job loop — same
    argmax, same (count desc, l asc, r asc) tie-break, same left-to-right
    overlap handling — on the real corpus AND on an adversarial
    tie/overlap dictionary."""
    from databricks_etl_pipelines_spark.operators.bpe import train_bpe
    from databricks_etl_pipelines_spark.sources import table

    docs = table(spark, sf_dir, "documents")
    drv = train_bpe(docs, "text", num_merges=8, max_words=1000,
                    merge_loop="driver")
    dist = train_bpe(docs, "text", num_merges=8, max_words=1000,
                     merge_loop="spark")
    assert drv == dist and len(drv) == 8
    ties = spark.createDataFrame(
        [(0, "ab ab cd cd aaa bbb abab cdcd")], "doc_id long, text string"
    )
    drv = train_bpe(ties, "text", num_merges=12, merge_loop="driver")
    dist = train_bpe(ties, "text", num_merges=12, merge_loop="spark")
    assert drv == dist
    # NBSP (U+00A0) is NOT whitespace to Spark's ASCII-only \s+ tokenizer,
    # so it is a legitimate symbol — the driver loop must keep it too
    # (Python .split() would silently drop it and diverge)
    nbsp = spark.createDataFrame(
        [(0, "a\xa0abab ab ab a\xa0abab")], "doc_id long, text string"
    )
    drv = train_bpe(nbsp, "text", num_merges=5, merge_loop="driver")
    dist = train_bpe(nbsp, "text", num_merges=5, merge_loop="spark")
    assert drv == dist and any("\xa0" in l + r for l, r, _ in drv)


def test_bpe_encode_stats_empty_doc_outside_dictionary(spark):
    """An empty document whose '' word falls OUTSIDE the dictionary cap
    must not crash chars_per_token with 0/0 (the OOD fallback floors at
    1 symbol, matching the in-dictionary split('') == [''] semantics)."""
    from databricks_etl_pipelines_spark.operators.bpe import (
        encode_stats,
        train_bpe,
    )

    docs = spark.createDataFrame(
        [(1, "aa aa aa bb bb cc cc"), (2, "")], "doc_id long, text string"
    )
    merges = train_bpe(docs, "text", num_merges=2, max_words=3)
    stats = {
        r.doc_id: r.n_bpe_tokens
        for r in encode_stats(docs, "text", "doc_id", merges,
                              max_words=3).collect()
    }
    assert stats[2] == 1 and stats[1] > 0


def test_bpe_arrow_encode_matches_expr(spark):
    """The depth-independent Arrow encode path (rank-ordered per-word
    apply) must produce the SAME post-merge symbol counts as the expr
    path's sequential replace chain — including merges that consume
    earlier merge products and repeated-letter overlap — on a trained-to-
    exhaustion merge list where deep chains actually occur."""
    from databricks_etl_pipelines_spark.operators.bpe import (
        encoded_dictionary,
        train_bpe,
        word_frequencies,
    )

    texts = [
        (0, "low lower lowest low low aaa aaaa aa"),
        (1, "new newer newest new newer banana bananas"),
        (2, "wide wider widest wide abracadabra"),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    wf = word_frequencies(df, "text", 1000).persist()
    merges = train_bpe(df, "text", num_merges=100, word_freqs=wf)
    assert len(merges) > 20  # deep enough to exercise chained merges
    expr = {
        r.w: r.n_sym
        for r in encoded_dictionary(
            df, "text", merges, word_freqs=wf, apply_mode="expr"
        ).collect()
    }
    arrow = {
        r.w: r.n_sym
        for r in encoded_dictionary(
            df, "text", merges, word_freqs=wf, apply_mode="arrow"
        ).collect()
    }
    wf.unpersist()
    assert arrow == expr and len(expr) > 10


def test_bpe_merge_application_round_trips(spark, sf_dir):
    """Stripping separators from the merged symbol string reproduces the
    original word for every dictionary entry (no symbol ever lost or
    duplicated by the replace trick), on the real corpus."""
    from databricks_etl_pipelines_spark.operators.bpe import (
        apply_merge,
        train_bpe,
        word_frequencies,
        wrap_symbols,
    )
    from databricks_etl_pipelines_spark.sources import table

    docs = table(spark, sf_dir, "documents")
    merges = train_bpe(docs, "text", num_merges=6, max_words=1000)
    assert len(merges) == 6
    s = wrap_symbols(F.col("w"))
    for l, r, _ in merges:
        s = apply_merge(s, l, r)
    bad = (
        word_frequencies(docs, "text", 1000)
        .select("w", F.replace(s, F.lit(" "), F.lit("")).alias("joined"))
        .where(F.col("joined") != F.col("w"))
        .count()
    )
    assert bad == 0


def test_winsorize_onescan_plan_and_agreement(spark, sf_dir):
    """The histogram-sketch winsorize must (a) contain exactly ONE scan of
    the fact table in its returned plan — the 100 TB property the exact
    3-scan variant lacks — and (b) broadcast the per-group stats. The
    bucket-edge clip bounds must put the correct mass on each side: fewer
    than ceil(0.05·n) rows strictly below the lower bound, and at least
    ceil(0.95·n) rows at or below the upper bound, per group."""
    import math

    from databricks_etl_pipelines_spark import catalog

    catalog.load_all()
    one = catalog.QUERIES["agg_winsorize_zscore_onescan"](spark, sf_dir)
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert plan.count("events.parquet") == 1, plan
    assert "BroadcastHashJoin" in plan
    rows = one.collect()
    by_grp: dict = {}
    for r in rows:
        by_grp.setdefault(r.event_type, []).append(r)
    for grp, rs in by_grp.items():
        n = len(rs)
        lo = min(r.value_winsorized for r in rs)
        hi = max(r.value_winsorized for r in rs)
        assert sum(r.value < lo for r in rs) < math.ceil(0.05 * n), grp
        assert sum(r.value <= hi for r in rs) >= math.ceil(0.95 * n), grp
        # clipped values never exceed the bounds
        assert all(lo <= r.value_winsorized <= hi for r in rs)


def test_round4c_query_plan_shapes(spark, sf_dir):
    """Physical-plan pins for the round-4c operators: the DSIR log-ratio
    profile must join as a BROADCAST (bucket-sized build side, never a
    shuffle of the doc-bucket frame), and the weighted sampler must rank
    inside a single exchange on the group key (one Window, no extra
    shuffle of the scored rows)."""
    from databricks_etl_pipelines_spark import catalog

    catalog.load_all()
    dsir = catalog.QUERIES["curation_dsir_weights"](spark, sf_dir)
    plan = dsir._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan

    ws = catalog.QUERIES["curation_weighted_sample"](spark, sf_dir)
    plan = ws._jdf.queryExecution().executedPlan().toString()
    windows = [
        ln for ln in plan.splitlines() if ln.split("+- ")[-1].startswith("Window ")
    ]
    assert len(windows) == 1, plan
    assert plan.count("Exchange hashpartitioning(source") == 1

    spans = catalog.QUERIES["dedup_duplicate_spans"](spark, sf_dir)
    plan = spans._jdf.queryExecution().executedPlan().toString()
    # the dup-gram filter joins hits by gram — equi-joins only, and the
    # final report re-keys by doc id; nothing may cartesian
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_round11_query_plan_shapes(spark, sf_dir):
    """Physical-plan pins for the round-11 operators: the weighted
    trimmed mean's rank machinery must join back exclusively by
    BROADCAST (bounded cut relations — never a shuffle of the fact
    side, no sort-merge join, no cartesian); Holt-Winters must be a
    pure hash-agg + fold (no join of any kind — its one shuffle is the
    user_id aggregation); the ratio bootstrap's CI assembly must
    broadcast its per-group side relations with no sort-merge join."""
    from databricks_etl_pipelines_spark import catalog

    catalog.load_all()
    wtm = catalog.QUERIES["agg_weighted_trimmed_mean"](spark, sf_dir)
    plan = wtm._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan

    hw = catalog.QUERIES["window_holt_winters"](spark, sf_dir)
    plan = hw._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    assert "HashAggregate" in plan

    bcr = catalog.QUERIES["diag_bootstrap_ci_ratio"](spark, sf_dir)
    plan = bcr._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_anomaly_zscore_planted_spike(spark):
    """A planted spike against a mildly-varying baseline is the ONLY
    flagged event: the spike is excluded from its own baseline (else z
    would be 0-ish), later rows aren't flagged because the spike inflates
    their baseline spread, and constant baselines (sd=0) never divide."""
    import datetime as dt

    from databricks_etl_pipelines_spark.plans.queries_windows import (
        window_anomaly_zscore,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    vals = [10.0, 11.0, 10.0, 11.0, 10.0, 11.0, 100.0, 11.0, 10.0]
    for i, v in enumerate(vals):
        rows.append((1, i, t0 + dt.timedelta(minutes=i), "x", v, "{}"))
    # user 2: constant values -> sd 0 -> nothing flagged, no div-by-zero
    for i, v in enumerate([5.0] * 8):
        rows.append((2, 100 + i, t0 + dt.timedelta(minutes=i), "x", v, "{}"))
    df = spark.createDataFrame(
        rows,
        "user_id long, event_id long, ts timestamp, event_type string,"
        " value double, props string",
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/events.parquet")
        out = window_anomaly_zscore(spark, d).collect()
    assert [(r.user_id, r.event_id) for r in out] == [(1, 6)]
    assert out[0].zscore > 50


def test_sft_offsets_slice_rendered_text_exactly(spark):
    """The offsets contract: slicing the independently-rendered
    conversation string with each turn's [start, end) must reproduce the
    turn's rendered text, and loss_chars must equal the union of
    in_loss spans (crafted multi-turn conversation, out-of-order input
    rows to prove the (ts, id) window ordering)."""
    import datetime as dt

    from databricks_etl_pipelines_spark.operators.sft import (
        rendered_conversations,
        turn_offsets,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [  # deliberately shuffled input order
        (7, t0 + dt.timedelta(minutes=2), 3, "click", "do the thing"),
        (7, t0 + dt.timedelta(minutes=1), 2, "view", "page two"),
        (7, t0 + dt.timedelta(minutes=1), 1, "signup", "hello"),
        (7, t0 + dt.timedelta(minutes=3), 4, "purchase", "buy it"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long,"
        " event_type string, props string"
    )
    offs = sorted(
        turn_offsets(
            df, "user_id", ["ts", "event_id"], "event_type", "props",
            ("click", "purchase"),
        ).collect(),
        key=lambda r: r.turn_idx,
    )
    expected_turns = [
        "signup: hello\n", "view: page two\n",
        "click: do the thing\n", "purchase: buy it\n",
    ]
    rendered = "".join(expected_turns)
    for r, turn in zip(offs, expected_turns):
        assert rendered[r.start_char:r.end_char] == turn
    assert [r.in_loss for r in offs] == [0, 0, 1, 1]

    conv = rendered_conversations(
        df, "user_id", ["ts", "event_id"], "event_type", "props",
        ("click", "purchase"),
    ).collect()[0]
    import hashlib

    assert conv.rendered_md5 == hashlib.md5(rendered.encode()).hexdigest()
    assert conv.total_chars == len(rendered)
    assert conv.loss_chars == sum(
        r.end_char - r.start_char for r in offs if r.in_loss
    )


def test_bpe_merge_exhaustion_matches_reference(spark):
    """Dictionary fully merges before num_merges: the trainer must stop
    early (fewer merge rows) and encoding must still apply the learned
    merges — the case where the unrolled oracle's empty argmax steps
    must carry the dictionary through unchanged."""
    from databricks_etl_pipelines_spark.operators.bpe import (
        encode_stats,
        train_bpe,
    )

    df = spark.createDataFrame(
        [(0, "ab ab"), (1, "ab")], "doc_id long, text string"
    )
    words = {"ab": 3}
    ref_merges, ref_enc = _reference_bpe(words, 8)
    got = train_bpe(df, "text", num_merges=8, max_words=100)
    assert got == ref_merges and len(got) == 1
    stats = {
        r.doc_id: r.n_bpe_tokens
        for r in encode_stats(df, "text", "doc_id", got, 100).collect()
    }
    assert stats == {0: 2, 1: 1}


def test_preference_pairs_crafted_pool(spark):
    """DPO pairing semantics: deterministic tie-breaks on both ends,
    margin gate, singleton groups dropped."""
    from databricks_etl_pipelines_spark.operators.sft import preference_pairs

    rows = [
        # group 1: clear winner/loser, margin 40
        (1, 11, 90), (1, 12, 50), (1, 13, 70),
        # group 2: tie at the top (min id wins) and bottom (max id loses)
        (2, 21, 80), (2, 22, 80), (2, 23, 10), (2, 24, 10),
        # group 3: margin below the gate
        (3, 31, 60), (3, 32, 55),
        # group 4: singleton — never a pair
        (4, 41, 99),
    ]
    df = spark.createDataFrame(rows, "g int, i bigint, s int")
    got = {
        r.g: r
        for r in preference_pairs(df, "g", "i", "s", min_margin=10).collect()
    }
    assert set(got) == {1, 2}
    assert (got[1].chosen_id, got[1].rejected_id) == (11, 12)
    assert (got[2].chosen_id, got[2].rejected_id) == (21, 24)
    assert got[2].n_candidates == 4

    # default margin is 1: an all-tied group yields a zero-signal pair and
    # must be dropped unless the caller opts into min_margin=0
    ties = spark.createDataFrame(
        [(1, 11, 50), (1, 12, 50)], "g int, i bigint, s int"
    )
    assert preference_pairs(ties, "g", "i", "s").count() == 0
    assert preference_pairs(ties, "g", "i", "s", min_margin=0).count() == 1
    assert got[1].chosen_score - got[1].rejected_score == 40


def test_det_ivf_incremental_append_matches_oneshot(
    spark, sf_dir, monkeypatch
):
    """Build-on-half + append-half must probe identically to a one-shot
    build with the SAME frozen quantizer, and the probe must read only
    the probed list partitions: hive pruning in the Spark path's plan,
    and only the nprobe probed list_id= directories on the driver path."""
    import os

    from databricks_etl_pipelines_spark.operators import local_probe
    from databricks_etl_pipelines_spark.operators.similarity import (
        DetIvfIndex,
        _py_sq_l2,
    )
    from pyspark.sql import functions as F

    from databricks_etl_pipelines_spark.sources import table

    emb = table(spark, sf_dir, "embeddings")
    q = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    ]

    import tempfile

    incr = DetIvfIndex(tempfile.mkdtemp(prefix="det_ivf_incr_"))
    incr.build(emb.filter(F.col("vec_id") % 2 == 0), "embedding", "vec_id")
    incr.append(emb.filter(F.col("vec_id") % 2 == 1), "embedding", "vec_id")

    # one-shot with the same quantizer: build on evens, append NOTHING,
    # then assignment of odds must match what a fresh append computes —
    # so compare against a second index built+appended in one go but in
    # the opposite batch order (append is batch-order-insensitive)
    other = DetIvfIndex(tempfile.mkdtemp(prefix="det_ivf_other_"))
    other.build(emb.filter(F.col("vec_id") % 2 == 0), "embedding", "vec_id")
    odds = emb.filter(F.col("vec_id") % 2 == 1)
    for third in (0, 1, 2):  # three appends instead of one
        other.append(odds.filter(F.col("vec_id") % 3 == third),
                     "embedding", "vec_id")

    a = [(r.vec_id, round(r.cosine_sim, 9))
         for r in incr.probe(spark, q, "vec_id", k=10, nprobe=4).collect()]
    b = [(r.vec_id, round(r.cosine_sim, 9))
         for r in other.probe(spark, q, "vec_id", k=10, nprobe=4).collect()]
    assert a == b and len(a) == 10

    # driver path (the index is below the threshold): it reads files of
    # exactly the nprobe nearest lists' directories
    nearest = sorted(
        incr._centroid_rows(), key=lambda c: (_py_sq_l2(q, c[1]), c[0])
    )[:4]
    read = []
    real_read = local_probe.read_files

    def spy(files, columns):
        read.extend(files)
        return real_read(files, columns)

    monkeypatch.setattr(local_probe, "read_files", spy)
    assert [(r.vec_id, round(r.cosine_sim, 9)) for r in incr.probe(
        spark, q, "vec_id", k=10, nprobe=4).collect()] == a
    dirs = {os.path.basename(os.path.dirname(f)) for f in read}
    assert dirs == {f"list_id={cid}" for cid, _ in nearest}

    # forced Spark path: the partition filter reached the scan
    monkeypatch.setattr(local_probe, "LOCAL_PROBE_MAX_BYTES", 0)
    probed = incr.probe(spark, q, "vec_id", k=10, nprobe=4)
    assert [(r.vec_id, round(r.cosine_sim, 9)) for r in probed.collect()] == a
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "list_id" in plan and "PartitionFilters: [list_id" in plan.replace(
        "PartitionFilters: [isnotnull(list_id", "PartitionFilters: [list_id"
    )


def test_ann_recall_report_full_probe_is_one_partial_is_measured(
    spark, sf_dir
):
    """Recall invariants that hold by construction: probing every list
    makes the ANN exhaustive, so recall@k == 1.0 for every query; a
    partial probe reports recall in (0, 1] with exact_k == k, and each
    query's recall equals the directly-computed |ANN ∩ exact| / k from
    the underlying top-k operators."""
    from databricks_etl_pipelines_spark.operators.similarity import (
        ann_recall_report,
        batch_cosine_topk,
        ivf_topk_deterministic,
    )
    from databricks_etl_pipelines_spark.sources import table

    emb = table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 4).select("vec_id", "embedding")

    full = ann_recall_report(
        emb, "embedding", "vec_id", qs, "vec_id", "embedding",
        k=10, nlist=16, nprobe=16,
    )
    assert all(
        r.recall_at_k == 1.0 and r.exact_k == 10 and r.ann_hits == 10
        for r in full.collect()
    )

    part = ann_recall_report(
        emb, "embedding", "vec_id", qs, "vec_id", "embedding",
        k=10, nlist=16, nprobe=2,
    )
    rows = {r.query_id: r for r in part.collect()}
    assert set(rows) == {0, 1, 2, 3}
    exact = batch_cosine_topk(
        emb, "embedding", "vec_id", qs, "vec_id", "embedding",
        k=10, round_sim=6,
    ).collect()
    exact_sets: dict[int, set[int]] = {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.vec_id)
    for qid, want in exact_sets.items():
        qv = [
            float(x)
            for x in emb.filter(F.col("vec_id") == qid)
                        .first()["embedding"]
        ]
        ann = {
            r.vec_id
            for r in ivf_topk_deterministic(
                emb, "embedding", "vec_id", qv, k=10, nlist=16, nprobe=2
            ).collect()
        }
        got = rows[qid]
        assert 0 < got.recall_at_k <= 1.0
        assert got.ann_hits == len(ann & want)
        assert got.recall_at_k == got.ann_hits / 10


def test_round6_scale_fix_plan_shapes(spark, sf_dir):
    """Physical-plan pins for the round-6 scale fixes: (1) vocabulary
    caps (word_frequencies, text_vocab_encode's head) must compile to
    TakeOrderedAndProject — NOT a partitionless row_number Window that
    funnels the full distinct-word aggregate into one partition; (2)
    agg_kmv_distinct's bottom-k likewise, with the exact-count side
    joined as a broadcast singleton; (3) duplicate_clusters must build
    both edge directions from ONE scan of the pairs plan (a Generate
    over a 2-struct array), not a union that executes the upstream
    twice."""
    from databricks_etl_pipelines_spark import catalog
    from databricks_etl_pipelines_spark.operators.bpe import (
        word_frequencies,
    )
    from databricks_etl_pipelines_spark.operators.components import (
        duplicate_clusters,
    )
    from databricks_etl_pipelines_spark.sources import table

    wf = word_frequencies(table(spark, sf_dir, "documents"), "text", 100)
    wf.collect()
    plan = wf._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    assert "Window" not in plan, plan

    catalog.load_all()
    kmv = catalog.QUERIES["agg_kmv_distinct"](spark, sf_dir)
    kmv.collect()
    plan = kmv._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    assert "Window" not in plan, plan
    assert "BroadcastExchange" in plan, plan

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "id_a long, id_b long"
    )
    cc = duplicate_clusters(pairs)
    cc.collect()
    # the persisted edge frame is built per-call; inspect the analyzed
    # plan of a fresh edge construction instead: one Generate (explode),
    # no Union
    from pyspark.sql import functions as F

    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
                F.struct(F.col("id_b").alias("src"), F.col("id_a").alias("dst")),
            )
        ).alias("e")
    )
    eplan = edges._jdf.queryExecution().optimizedPlan().toString()
    assert "Union" not in eplan
    assert cc.count() == 3  # sanity: the chain collapses to one cluster


def test_contrastive_triplets_planted_hard_examples(spark):
    """Planted geometry: the hardest positive wins over the easy one with
    the smaller-id tie-break, the hardest negative can out-rank the
    positive (negative margin — the case the loss exists for), and a
    label singleton keeps a NULL positive."""
    from databricks_etl_pipelines_spark.operators.similarity import (
        contrastive_triplets,
    )
    from pyspark.sql import functions as F

    rows = [
        (0, [1.0, 0.0], 1),    # anchor A
        (1, [0.9, 0.1], 1),    # hard positive for A
        (6, [0.9, 0.1], 1),    # identical to 1 -> tie, smaller id wins
        (2, [0.0, 1.0], 1),    # easy positive (must NOT win)
        (3, [0.95, 0.05], 2),  # hard negative, closer than the positive
        (4, [-1.0, 0.0], 2),
        (5, [0.0, 1.0], 9),    # anchor B: label singleton
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    anchors = emb.filter(F.col("vec_id").isin(0, 5))
    out = {
        r.anchor_id: r
        for r in contrastive_triplets(
            emb, "embedding", "vec_id", "label", anchors
        ).collect()
    }
    a = out[0]
    assert a.positive_id == 1          # hard positive, tie broken to id 1
    assert a.negative_id == 3          # the confusable different-label vec
    assert a.negative_sim > a.positive_sim
    assert a.margin < 0                # the case triplet losses push on
    b = out[5]
    assert b.positive_id is None and b.positive_sim is None
    assert b.margin is None
    assert b.negative_id == 2          # exact-direction match, sim 1.0
    assert abs(b.negative_sim - 1.0) < 1e-9


def test_unigram_viterbi_local_tie_breaks_to_larger_split():
    """Crafted scores: a merged piece wins when strictly better; on an
    exact DP tie the LARGER split point (shorter last piece) wins — the
    rule the SQL oracle's CASE implements."""
    from databricks_etl_pipelines_spark.operators.unigram import _viterbi

    pieces, score = _viterbi("ab", {"a": -10, "b": -10, "ab": -15}, 6)
    assert pieces == ["ab"] and score == -15
    pieces, score = _viterbi("ab", {"a": -10, "b": -10, "ab": -20}, 6)
    assert pieces == ["a", "b"] and score == -20


def test_unigram_segment_dictionary_invariants(spark):
    """Structural invariants over a planted corpus: pieces reassemble
    every word, respect max_piece_len, a rare word outside the multi-char
    cap falls back to single chars, scores equal the sum of the scored
    pieces, and the output is partition-layout independent."""
    from pyspark.sql import functions as F

    from databricks_etl_pipelines_spark.operators.bpe import word_frequencies
    from databricks_etl_pipelines_spark.operators.unigram import (
        piece_scores,
        segment_dictionary,
    )

    rows = [(i, "abab abab baba") for i in range(20)] + [(99, "qz")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    words = word_frequencies(docs, "text", max_words=100)
    out = segment_dictionary(words, max_piece_len=3, vocab_multi=2)
    got = {r.word: r for r in out.collect()}
    smap = {
        r.piece: int(r.s)
        for r in piece_scores(words, max_piece_len=3, vocab_multi=2).collect()
    }
    assert len(smap) == len({"a", "b", "q", "z"}) + 2
    for w, r in got.items():
        parts = r.pieces.split(" ") if r.pieces else []
        assert "".join(parts) == w
        assert all(1 <= len(p) <= 3 for p in parts)
        assert r.n_pieces == len(parts)
        assert r.score == sum(smap[p] for p in parts)
    # 'qz' is unique -> its bigram cannot crack the top-2 multi cut
    assert got["qz"].pieces == "q z"
    again = {
        (r.word, r.pieces, r.score)
        for r in segment_dictionary(
            word_frequencies(docs.repartition(5), "text", max_words=100),
            max_piece_len=3,
            vocab_multi=2,
        ).collect()
    }
    assert again == {(r.word, r.pieces, r.score) for r in got.values()}


def test_unigram_em_training_properties(spark):
    """EM sanity on a planted corpus: probabilities stay a distribution,
    every EM iteration cannot DECREASE total corpus log-likelihood (the
    EM guarantee, checked across 3 iteration counts), the trained model
    concentrates mass on the dominant piece, and the trained
    segmentation still reassembles every word."""
    import math

    from databricks_etl_pipelines_spark.operators.bpe import word_frequencies
    from databricks_etl_pipelines_spark.operators.unigram import (
        _forward,
        em_probabilities,
        em_segment_dictionary,
    )

    rows = [(i, "abab abab cd") for i in range(12)] + [(99, "qq")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    words = word_frequencies(docs, "text", max_words=100)
    wlist = [(r.w, r.freq) for r in words.collect()]

    def loglik(pmap):
        total = 0.0
        for w, freq in wlist:
            z = _forward(w, pmap, 3)[len(w)]
            total += freq * math.log(z)
        return total

    lls = []
    for t in (0, 1, 2):
        pmap = em_probabilities(
            words, max_piece_len=3, vocab_multi=2, iters=t
        )
        assert abs(sum(pmap.values()) - 1.0) < 1e-9
        assert all(p > 0 for p in pmap.values())
        lls.append(loglik(pmap))
    # monotone non-decreasing up to the lattice-quantization epsilon
    assert lls[1] >= lls[0] - 1e-6
    assert lls[2] >= lls[1] - 1e-6
    # 'ab' dominates the corpus -> EM gives it more mass than any char
    p2 = em_probabilities(words, max_piece_len=3, vocab_multi=2, iters=2)
    assert "ab" in p2 and p2["ab"] == max(p2.values())
    seg = {
        r.word: r
        for r in em_segment_dictionary(
            words, max_piece_len=3, vocab_multi=2, iters=2
        ).collect()
    }
    for w, _ in wlist:
        parts = seg[w].pieces.split(" ") if seg[w].pieces else []
        assert "".join(parts) == w
    assert seg["abab"].pieces == "ab ab"


def test_unigram_em_pruning_shrinks_vocabulary(spark):
    """Kudo pruning semantics: each EM iteration drops exactly
    prune_per_iter multi-char pieces (the lowest-probability ones),
    single chars are never pruned, the survivors renormalize to a
    distribution, and segmentation still reassembles every word."""
    from databricks_etl_pipelines_spark.operators.bpe import word_frequencies
    from databricks_etl_pipelines_spark.operators.unigram import (
        em_probabilities,
        em_segment_dictionary,
    )

    rows = [(i, "abab abab cd xyxy") for i in range(10)] + [(99, "qq")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    words = word_frequencies(docs, "text", max_words=100)
    plain = em_probabilities(words, max_piece_len=3, vocab_multi=8, iters=2)
    pruned = em_probabilities(
        words, max_piece_len=3, vocab_multi=8, iters=2, prune_per_iter=2
    )
    n_multi = lambda d: sum(1 for k in d if len(k) >= 2)  # noqa: E731
    assert n_multi(plain) - n_multi(pruned) == 4  # 2 per iteration
    assert all(k in pruned for k in plain if len(k) == 1)
    assert abs(sum(pruned.values()) - 1.0) < 1e-9
    # the dominant piece survives the shrink
    assert "ab" in pruned
    seg = em_segment_dictionary(
        words, max_piece_len=3, vocab_multi=8, iters=2, prune_per_iter=2
    ).collect()
    for r in seg:
        parts = r.pieces.split(" ") if r.pieces else []
        assert "".join(parts) == r.word


def test_jl_projection_preserves_geometry(spark, sf_dir):
    """JL quality on the real embeddings: the (3/k)-corrected norm ratio
    concentrates near 1 (mean within 15%, no catastrophic collapse), and
    a planted pair of identical vectors projects identically while an
    orthogonal pair stays far apart."""
    from pyspark.sql import functions as F

    from databricks_etl_pipelines_spark.operators.similarity import (
        jl_project,
    )
    from databricks_etl_pipelines_spark.sources import table

    emb = table(spark, sf_dir, "embeddings")
    out = jl_project(emb, "embedding", "vec_id").collect()
    ratios = [r.jl_ratio for r in out]
    assert len(ratios) > 0
    mean = sum(ratios) / len(ratios)
    assert 0.85 < mean < 1.15, mean
    assert all(r > 0.05 for r in ratios)  # nothing collapses to ~zero
    # planted: duplicate vectors project to identical coordinates
    dim = 64
    v1 = [1.0] * dim
    v2 = [1.0] * dim
    v3 = [1.0, -1.0] * (dim // 2)
    planted = spark.createDataFrame(
        [(1, v1), (2, v2), (3, v3)],
        "vec_id long, embedding array<double>",
    )
    got = {r.id: (r.x2, r.y2) for r in jl_project(
        planted, "embedding", "vec_id"
    ).collect()}
    assert got[1] == got[2]
    assert got[1][0] == got[3][0]      # same input norm...
    assert got[1][1] != got[3][1]      # ...different projections


def test_countmin_guarantee_and_accuracy(spark, sf_dir):
    """Count-Min one-sided guarantee on real data: estimates never
    undercount, and with d=4 rows the min-estimate overcount stays well
    under the single-row worst case (N/w per row)."""
    from databricks_etl_pipelines_spark import catalog

    catalog.load_all()
    rows = catalog.QUERIES["agg_countmin_words"](spark, sf_dir).collect()
    assert len(rows) == 20
    assert all(r.never_undercounts for r in rows)
    n_tokens = sum(r.exact for r in rows)  # lower bound on stream size N
    from databricks_etl_pipelines_spark.sources import table
    from pyspark.sql import functions as F
    from databricks_etl_pipelines_spark.functions.textfns import tokens

    N = (
        table(spark, sf_dir, "documents")
        .select(F.explode(tokens("text")).alias("w"))
        .count()
    )
    assert n_tokens <= N
    # loose sanity: min over 4 rows beats the per-row expectation N/64
    assert max(r.overcount for r in rows) <= 2 * N / 64


def test_theta_sketch_set_algebra_both_regimes(spark):
    """Theta-sketch set operations in both sketch regimes. sf0.001: every
    population is under k, so theta = 2^31 (exact mode) and all four
    estimates must EQUAL the exact cardinalities. sf0.01: estimation
    mode — retained counts are exactly k-1 (theta is the exclusive k-th
    key) and every estimate lands within 25% of truth (k=256 gives
    ~1/sqrt(k) ≈ 6% per-sketch error; intersections compound)."""
    from databricks_etl_pipelines_spark import catalog

    catalog.load_all()
    fn = catalog.QUERIES["agg_theta_sketch_setops"]

    small = fn(spark, "/root/testdata/sf0.001").collect()[0]
    assert small.est_a == float(small.exact_a)
    assert small.est_b == float(small.exact_b)
    assert small.est_union == float(small.exact_union)
    assert small.est_intersect == float(small.exact_intersect)
    assert small.retained_a == small.exact_a

    big = fn(spark, "/root/testdata/sf0.01").collect()[0]
    assert big.retained_a == 255 and big.retained_b == 255
    for est, exact in [
        (big.est_a, big.exact_a),
        (big.est_b, big.exact_b),
        (big.est_union, big.exact_union),
        (big.est_intersect, big.exact_intersect),
    ]:
        assert abs(est - exact) / exact < 0.25
    # set-algebra consistency on the estimates themselves:
    # |A| + |B| = |A ∪ B| + |A ∩ B| holds under a COMMON theta, and the
    # per-sketch estimates use their own thetas — so assert the loose
    # inclusion bounds instead of the exact identity
    assert big.est_union <= big.est_a + big.est_b
    assert big.est_intersect <= min(big.est_a, big.est_b) * 1.05


def test_ahash_neardup_planted_geometry(spark):
    """Planted payloads pin the aHash fingerprint + banding semantics:
    identical payloads collide at hamming 0; a payload perturbed in a
    couple of sampled bytes lands at a small nonzero hamming and is
    still recalled (pigeonhole: ≤ 3 differing bits leave ≥ 1 of the 4
    bands identical); an unrelated payload never pairs at ≤ 8."""
    from databricks_etl_pipelines_spark.operators.multimodal import (
        ahash_features,
        ahash_neardup_pairs,
    )

    base = "abcdefgh" * 32  # 256 bytes, varied values
    # flip ONE sampled position hard: position 0 is always sampled
    tweaked = "z" + base[1:]
    unrelated = "".join(
        chr(33 + (i * 37) % 90) for i in range(256)
    )
    rows = [
        (1, base.encode()),
        (2, base.encode()),
        (3, tweaked.encode()),
        (4, unrelated.encode()),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, payload binary"
    )
    feats = ahash_features(docs)
    got = {r.doc_id: (r.b0, r.b1, r.b2, r.b3) for r in feats.collect()}
    assert got[1] == got[2]

    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in ahash_neardup_pairs(feats, max_hamming=8).collect()
    }
    assert pairs[(1, 2)] == 0
    assert (1, 3) in pairs and 1 <= pairs[(1, 3)] <= 8
    assert not any(4 in p for p in pairs)


def test_bm25_plan_and_semantics(spark):
    """BM25 plan discipline + ranking semantics: the top-k compiles to
    TakeOrderedAndProject (no global Sort), the rare term ('dup',
    df≈5% of docs) dominates the ranking — every returned doc containing
    it outscores every returned doc without it at similar length — and
    scores saturate in tf (k1 bound: each term contributes at most
    idf·(k1+1))."""
    import math
    import re

    from databricks_etl_pipelines_spark import catalog

    catalog.load_all()
    df = catalog.QUERIES["text_bm25_topk"](
        spark, "/root/testdata/sf0.01"
    )
    rows = df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert not re.findall(r"\bSort\b", plan)

    assert len(rows) == 20
    assert all(
        rows[i].score_bm25 >= rows[i + 1].score_bm25
        for i in range(len(rows) - 1)
    )
    # the rare term carries idf ≈ ln(1 + 475.5/25.5) ≈ 2.98 vs ≈ 0.27
    # for the common ones: docs WITH 'dup' fill the head of the list
    with_dup = [r.score_bm25 for r in rows if r.tf_dup > 0]
    without = [r.score_bm25 for r in rows if r.tf_dup == 0]
    assert with_dup
    assert not without or min(with_dup) > max(without)
    # saturation: no score exceeds the sum of idf·(k1+1) caps
    n, dfd = 500, 25
    idf_dup = math.log(1 + (n - dfd + 0.5) / (dfd + 0.5))
    cap = (idf_dup + 3 * math.log(1 + (500 - 390 + 0.5) / 390.5)) * 2.2
    assert all(r.score_bm25 < cap for r in rows)


def test_bm25_terms_all_present_in_corpus(spark, sf_dir):
    """Fixture guard (r16, from the r15 ADVICE): the single-pass BM25
    computes a FINITE idf for a df=0 term (log(1 + (N+0.5)/0.5)) while
    the oracle's per-term max(CASE...) CTE yields NULL for a term absent
    from the corpus — the engines agree only while every _BM25_TERMS
    member actually occurs. Pin df_t >= 1 at every test scale so a
    future term/fixture change trips here instead of in the driver.
    Scales absent next to the ``sf_dir`` fixture are skipped."""
    import os

    from pyspark.sql import functions as F

    from databricks_etl_pipelines_spark.functions.textfns import tokens
    from databricks_etl_pipelines_spark.plans.queries_llm import _BM25_TERMS
    from databricks_etl_pipelines_spark.sources import table

    scales = [
        os.path.join(os.path.dirname(sf_dir), name)
        for name in ("sf0.001", "sf0.01")
    ]
    for sf in scales:
        if not os.path.isdir(sf):
            continue
        words = (
            table(spark, sf, "documents")
            .select(F.explode(tokens("text")).alias("word"))
            .filter(F.col("word").isin(*_BM25_TERMS))
            .groupBy("word")
            .count()
        )
        found = {r["word"] for r in words.collect()}
        missing = set(_BM25_TERMS) - found
        assert not missing, (
            f"{sf}: _BM25_TERMS absent from corpus {sorted(missing)} — "
            "engine (finite idf) and oracle (NULL idf) would diverge"
        )


def test_containment_catches_subdup_jaccard_misses(spark):
    """The reason containment exists: a paragraph wrapped in heavy
    boilerplate is ≥ 0.8 contained in the wrapper while the union
    dilutes Jaccard below 0.5 — so jaccard-only dedup keeps the pair,
    containment flags it. Also pins orientation (smaller doc is the
    contained side) and that unrelated docs never pair."""
    from databricks_etl_pipelines_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    para = "alpha beta gamma delta epsilon zeta eta theta"
    boiler = " ".join(f"nav{i} menu{i} footer{i}" for i in range(12))
    rows = [
        (1, para),
        (2, boiler + " " + para + " " + boiler),
        (3, "totally different words entirely here and now"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    cont = {
        (r.contained_id, r.container_id): r.containment
        for r in containment_pairs(
            docs, "text", "doc_id", threshold=0.8
        ).collect()
    }
    assert (1, 2) in cont and cont[(1, 2)] >= 0.8
    assert all(3 not in pair for pair in cont)

    jac = ngram_jaccard_pairs(
        docs, "text", "doc_id", threshold=0.5
    ).collect()
    assert not [r for r in jac if {r.id_a, r.id_b} == {1, 2}]


def test_curriculum_interleave_invariants(spark, sf_dir):
    """Loader-order invariants of the curriculum schedule: positions
    are globally unique; within a source they are strictly increasing
    in difficulty rank (easy→hard); at every rank depth the sources
    occupy consecutive arithmetic slots in source-index order (the
    round-robin property); and the easiest doc of the first source sits
    at position 1."""
    from databricks_etl_pipelines_spark import catalog

    catalog.load_all()
    rows = catalog.QUERIES["curation_curriculum_interleave"](
        spark, sf_dir
    ).collect()
    assert rows
    pos = [r.global_pos for r in rows]
    assert len(pos) == len(set(pos))
    srcs = sorted({r.source for r in rows})
    s_idx = {s: i for i, s in enumerate(srcs)}
    n = len(srcs)
    by_src = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    for s, rs in by_src.items():
        rs.sort(key=lambda r: r.source_rank)
        assert all(
            a.q_surprisal <= b.q_surprisal for a, b in zip(rs, rs[1:])
        )
        # the arithmetic schedule: pos = (rank-1)*n + s_idx + 1
        assert all(
            r.global_pos == (r.source_rank - 1) * n + s_idx[s] + 1
            for r in rs
        )
    assert min(pos) == 1


def test_bm25_index_probe_prunes_partitions_and_matches_full_scan(spark):
    """The persisted BM25 index must (a) prune at the PARTITION level —
    the probe's scan carries PartitionFilters on wb and reads at most
    one bucket directory per query term — and (b) reproduce the
    full-scan query's top-20 EXACTLY (same docs, same rounded scores):
    the index is a layout, not a semantics change."""
    from databricks_etl_pipelines_spark import catalog

    catalog.load_all()
    sf = "/root/testdata/sf0.01"
    full = catalog.QUERIES["text_bm25_topk"](spark, sf).collect()
    probe_df = catalog.QUERIES["text_bm25_indexed"](spark, sf)
    probe = probe_df.collect()
    assert [(r.doc_id, r.score_bm25) for r in full] == [
        (r.doc_id, r.score_bm25) for r in probe
    ]
    import re

    # the strict (default) probe returns an eagerly-materialized local
    # relation (so the count-pass cache can be unpersisted — no leaked
    # cache entry per probe); the pruning property lives on the LAZY
    # plan, inspected via the strict=False surface of the same index
    from databricks_etl_pipelines_spark.plans.queries_llm import (
        _BM25_B,
        _BM25_INDEX_CACHE,
        _BM25_K1,
        _BM25_TERMS,
        _BM25_TOPK,
    )

    lazy = _BM25_INDEX_CACHE[sf].probe_bm25(
        spark, _BM25_TERMS, k=_BM25_TOPK, k1=_BM25_K1, b=_BM25_B,
        strict=False,
    )
    assert [(r.doc_id, r.score_bm25) for r in lazy.collect()] == [
        (r.doc_id, r.score_bm25) for r in full
    ]
    plan = lazy._jdf.queryExecution().executedPlan().toString()
    prunes = re.findall(r"PartitionFilters: \[wb#\d+ IN \(([^)]*)\)\]", plan)
    assert prunes, plan[:500]
    # 4 query terms hash into at most 4 of the 64 bucket directories
    assert all(len(p.split(",")) <= 4 for p in prunes)


def test_pagerank_matches_python_replay_and_ranks_hub(spark):
    """pagerank_deterministic vs a pure-Python replay of the integer
    recurrence on a planted graph (hub + 3 leaves + a detached pair):
    every lattice value equal after 3 rounds, and the hub outranks
    every leaf (it receives 3 contributions per round)."""
    from databricks_etl_pipelines_spark.operators.components import (
        pagerank_deterministic,
    )

    und = [(0, 1), (0, 2), (0, 3), (10, 11)]
    edges = [(a, b) for a, b in und] + [(b, a) for a, b in und]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r.node: r.r_int
        for r in pagerank_deterministic(df, iters=3).collect()
    }

    S, damp = 1 << 20, 85
    base = ((100 - damp) * S) // 100
    from collections import defaultdict

    deg = defaultdict(int)
    for a, _ in edges:
        deg[a] += 1
    r = {n: S for n in deg}
    for _ in range(3):
        nxt = {n: base for n in deg}
        for a, b in edges:
            nxt[b] += (damp * r[a]) // (100 * deg[a])
        r = nxt
    assert got == r
    assert got[0] > max(got[1], got[2], got[3])
    assert got[10] == got[11]


def test_pagerank_rejects_dangling_dst(spark):
    """r9 ADVICE closure: a directed/asymmetric edge list (a node that
    appears as dst but never as src) must raise, not silently vanish
    the mass routed to it — the node set derives from src, so without
    the guard the dst-only node's in-sum is computed then dropped."""
    import pytest as _pytest

    from databricks_etl_pipelines_spark.operators.components import (
        pagerank_deterministic,
    )

    directed = spark.createDataFrame(
        [(0, 1), (1, 2)], "src long, dst long"
    )
    with _pytest.raises(ValueError, match="never as 'src'"):
        pagerank_deterministic(directed, iters=1)


def _tiny_bm25_index(spark, tmp_path, n_docs=6):
    from databricks_etl_pipelines_spark.operators.retrieval import (
        InvertedTextIndex,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta doc{i} gamma") for i in range(n_docs)],
        "doc_id long, text string",
    )
    return InvertedTextIndex.build(
        docs, "text", "doc_id", str(tmp_path / "idx")
    )


def test_bm25_probe_underfill_is_loud_not_silent(spark, tmp_path):
    """r9 ADVICE closure: the index only holds docs matching >=1
    posting, while the full-scan ranking pads its top-k with zero-score
    docs — so a probe that cannot fill k must raise under the default
    strict mode (divergence is loud), and strict=False opts into the
    smaller result set explicitly."""
    import pytest as _pytest

    idx = _tiny_bm25_index(spark, tmp_path, n_docs=3)
    with _pytest.raises(ValueError, match="only 3 documents match"):
        idx.probe_bm25(spark, ("alpha",), k=20)
    rows = idx.probe_bm25(spark, ("alpha",), k=20, strict=False).collect()
    assert len(rows) == 3
    # a filling probe is unaffected by the check
    assert len(idx.probe_bm25(spark, ("alpha",), k=3).collect()) == 3


def test_bm25_torn_append_detected_and_committed_manifest_gcd(
    spark, tmp_path
):
    """r9 ADVICE closure: a pending append manifest whose batch id is
    NOT committed in the meta means postings may be ahead of the corpus
    scalars — probe and append must refuse with TornIndexError. A
    leftover manifest for a COMMITTED batch (crash after meta publish,
    before cleanup) is harmless and silently garbage-collected. A
    rebuild supersedes torn state entirely."""
    import json
    import os

    import pytest as _pytest

    from databricks_etl_pipelines_spark.operators.retrieval import (
        InvertedTextIndex,
        TornIndexError,
    )

    idx = _tiny_bm25_index(spark, tmp_path)
    late = spark.createDataFrame(
        [(100, "alpha delta epsilon")], "doc_id long, text string"
    )
    idx.append(late, "text", "doc_id")  # clean append: no leftovers
    pend = os.path.join(idx.root, idx.PENDING)
    assert os.listdir(pend) == []

    # simulate the crash window: manifest written, meta never committed
    with open(os.path.join(pend, "b1.json"), "w") as f:
        json.dump({"n_docs": 1, "sum_dl": 3}, f)
    with _pytest.raises(TornIndexError, match="uncommitted append"):
        idx.probe_bm25(spark, ("alpha",), k=3)
    with _pytest.raises(TornIndexError):
        idx.append(late, "text", "doc_id")

    # crash AFTER commit: manifest for an already-committed batch id
    os.replace(
        os.path.join(pend, "b1.json"), os.path.join(pend, "b0.json")
    )
    assert len(idx.probe_bm25(spark, ("alpha",), k=3).collect()) == 3
    assert os.listdir(pend) == []  # GC'd, not raised

    # a rebuild clears torn state
    with open(os.path.join(pend, "b9.json"), "w") as f:
        json.dump({"n_docs": 1, "sum_dl": 3}, f)
    idx2 = _tiny_bm25_index(spark, tmp_path)
    assert os.listdir(os.path.join(idx2.root, idx2.PENDING)) == []


def test_ema_smoothing_planted_recurrence(spark):
    """window_ema_smoothing vs the hand-computed recurrence on a planted
    series (order scrambled in the input — the (ts, event_id) sort must
    restore it): alpha=1/2 folds (acc+x)/2, alpha=1/4 folds
    (3*acc+x)/4, seeded with the first value."""
    import datetime as dt

    from databricks_etl_pipelines_spark.catalog import QUERIES, load_all

    load_all()
    rows = [
        (3, dt.datetime(2024, 1, 1, 0, 3), 7, "e", 3.0, "{}"),
        (1, dt.datetime(2024, 1, 1, 0, 1), 7, "e", 1.0, "{}"),
        (4, dt.datetime(2024, 1, 1, 0, 4), 7, "e", 4.0, "{}"),
        (2, dt.datetime(2024, 1, 1, 0, 2), 7, "e", 2.0, "{}"),
        (9, dt.datetime(2024, 1, 1, 0, 9), 8, "e", 5.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/events.parquet")
        out = {
            r.user_id: r
            for r in QUERIES["window_ema_smoothing"](spark, d).collect()
        }
    # user 7: series 1,2,3,4
    s = 1.0
    for x in (2.0, 3.0, 4.0):
        s = (s + x) / 2
    assert out[7].ema_half == round(s, 6) == 3.125
    q = 1.0
    for x in (2.0, 3.0, 4.0):
        q = (3 * q + x) / 4
    assert out[7].ema_quarter == q == 2.265625
    assert out[7].n_events == 4 and out[7].last_value == 4.0
    # single-event key: EMA is the value itself under both alphas
    assert out[8].ema_half == out[8].ema_quarter == 5.0


def test_t_closeness_audit_invariants_and_group_parity(spark, sf_dir):
    """t-closeness invariants at sf0.01: the QI partition is the same
    one k-anonymity audits (group counts equal), normalized ordered EMD
    lies in [0, 1], and the violation accounting is internally
    consistent (violators <= groups, exposed rows positive iff any
    violator)."""
    from databricks_etl_pipelines_spark.catalog import QUERIES, load_all

    load_all()
    sf = "/root/testdata/sf0.01"
    t = QUERIES["privacy_t_closeness_audit"](spark, sf).collect()[0]
    k = QUERIES["privacy_k_anonymity_audit"](spark, sf).collect()[0]
    assert t.n_groups == k.n_groups
    assert 0.0 <= t.worst_emd <= 1.0
    assert 0 <= t.violating_groups <= t.n_groups
    assert (t.exposed_rows > 0) == (t.violating_groups > 0)


def test_rrf_fusion_arithmetic_and_membership(spark):
    """similarity_rrf_fusion self-consistency at sf0.01: every fused row
    carries at least one source rank, the fused score equals
    1/(60+rank_bm25) + 1/(60+rank_cos) recomputed from the reported
    ranks (absent list -> +0), fused_rank is a 1..n permutation ordered
    by (score desc, doc_id), and both source lists contribute their full
    top-20 membership."""
    from databricks_etl_pipelines_spark.catalog import QUERIES, load_all

    load_all()
    rows = QUERIES["similarity_rrf_fusion"](
        spark, "/root/testdata/sf0.01"
    ).collect()
    assert [r.fused_rank for r in rows] == sorted(
        r.fused_rank for r in rows
    )
    assert sorted(r.fused_rank for r in rows) == list(
        range(1, len(rows) + 1)
    )
    assert sum(r.rank_bm25 is not None for r in rows) == 20
    assert sum(r.rank_cos is not None for r in rows) == 20
    prev = None
    for r in rows:
        assert r.rank_bm25 is not None or r.rank_cos is not None
        expect = (1.0 / (60 + r.rank_bm25) if r.rank_bm25 else 0.0) + (
            1.0 / (60 + r.rank_cos) if r.rank_cos else 0.0
        )
        import math

        assert math.isclose(r.rrf_score, expect, abs_tol=1e-9)
        if prev is not None:
            assert prev >= r.rrf_score
        prev = r.rrf_score


def test_weighted_median_twophase_matches_brute_force(spark, tmp_path):
    """Two-phase exact weighted median vs the definitional brute force
    (expand each row by its weight, take the lower median) on a planted
    table spanning several histogram buckets, including a group whose
    median lands mid-bucket and one whose crossing sits exactly on a
    bucket edge."""
    import statistics

    from databricks_etl_pipelines_spark.catalog import QUERIES, load_all

    load_all()
    rows = []
    planted = {
        "A": [(500.0, 3), (1500.0, 1), (2500.0, 1)],   # median mid-low
        "N": [(999.0, 1), (1000.0, 1), (1001.0, 2)],   # edge crossing
        "R": [(100.0, 5), (99999.0, 5)],               # even total tie
    }
    k = 0
    for g, vs in planted.items():
        for v, w in vs:
            rows.append((k, g, v, float(w)))
            k += 1
    df = spark.createDataFrame(
        rows,
        "l_orderkey long, l_returnflag string, l_extendedprice double,"
        " l_quantity double",
    )
    d = tmp_path / "li"
    df.write.parquet(f"{d}/lineitem.parquet")
    got = {
        r.l_returnflag: (r.total_weight, r.weighted_median)
        for r in QUERIES["agg_weighted_median_twophase"](
            spark, str(d)
        ).collect()
    }
    for g, vs in planted.items():
        expanded = sorted(
            v for v, w in vs for _ in range(int(w))
        )
        # lower weighted median: smallest v with 2*cumw >= W
        lower = statistics.median_low(expanded)
        assert got[g] == (len(expanded), lower), (g, got[g], lower)


def test_weighted_quantiles_match_brute_force_and_median(spark, tmp_path):
    """agg_weighted_quantiles vs the definitional brute force (expand
    each row by its weight; lower p-quantile = element at index
    ceil(p·W/100) − 1) on a planted multi-bucket table — including a
    skewed group whose p10 and p90 land in different buckets and an
    exact-crossing group — and the p50 column must equal the dedicated
    weighted-median query on the same data."""
    import math

    from databricks_etl_pipelines_spark.catalog import QUERIES, load_all

    load_all()
    planted = {
        "A": [(500.0, 3), (1500.0, 1), (2500.0, 1)],
        "N": [(999.0, 1), (1000.0, 1), (1001.0, 2)],
        "R": [(100.0, 5), (99999.0, 5)],            # even total tie
        "S": [(10.0, 10), (5000.0, 80), (99000.0, 10)],  # exact 10/90 edges
    }
    rows = []
    k = 0
    for g, vs in planted.items():
        for v, w in vs:
            rows.append((k, g, v, float(w)))
            k += 1
    df = spark.createDataFrame(
        rows,
        "l_orderkey long, l_returnflag string, l_extendedprice double,"
        " l_quantity double",
    )
    d = tmp_path / "li"
    df.write.parquet(f"{d}/lineitem.parquet")
    got = {
        r.l_returnflag: r
        for r in QUERIES["agg_weighted_quantiles"](spark, str(d)).collect()
    }
    med = {
        r.l_returnflag: r.weighted_median
        for r in QUERIES["agg_weighted_median_twophase"](
            spark, str(d)
        ).collect()
    }
    for g, vs in planted.items():
        expanded = sorted(v for v, w in vs for _ in range(int(w)))
        W = len(expanded)

        def brute(p):
            # smallest v with cumw >= p% of W  ==  element ceil(pW/100)-1
            return expanded[math.ceil(p * W / 100) - 1]

        r = got[g]
        assert r.total_weight == W
        assert (r.p10, r.p50, r.p90) == (brute(10), brute(50), brute(90)), g
        assert r.p50 == med[g], g


def test_trimmed_mean_exact_matches_brute_force(spark, tmp_path):
    """agg_trimmed_mean_exact vs the definitional brute force (sort,
    drop the lowest and highest n div 10, average the rest) on planted
    groups: ties AT both cut values (copies of the cut value split
    between kept and trimmed), values straddling several histogram
    buckets including one exactly on a bucket edge, and a group under
    10 rows (lo = 0 — trimmed mean must equal the plain mean)."""
    from databricks_etl_pipelines_spark.catalog import QUERIES, load_all

    load_all()
    planted = {
        # n=10, lo=1: ties at BOTH cuts (three 1.00s at the bottom,
        # three 9.00s at the top — exactly one of each is trimmed)
        "A": [1.0] * 3 + [5.0] * 4 + [9.0] * 3,
        # n=25, lo=2: multi-bucket spread with 1000.00 exactly on the
        # histogram bucket edge
        "B": [500.0] * 5 + [1000.0] * 10 + [2500.5] * 5 + [99999.99] * 5,
        # n=7, lo=0: no trimming — equals the plain mean
        "C": [10.0, 20.0, 30.0, 40.0, 50.0, 60.0, 70.0],
    }
    rows = []
    k = 0
    for g, vs in planted.items():
        for v in vs:
            rows.append((k, g, v, 1.0))
            k += 1
    df = spark.createDataFrame(
        rows,
        "l_orderkey long, l_returnflag string, l_extendedprice double,"
        " l_quantity double",
    )
    d = tmp_path / "li"
    df.write.parquet(f"{d}/lineitem.parquet")
    got = {
        r.l_returnflag: r
        for r in QUERIES["agg_trimmed_mean_exact"](spark, str(d)).collect()
    }
    for g, vs in planted.items():
        cents = sorted(int(v * 100 + 0.5) for v in vs)
        n = len(cents)
        lo = n // 10
        kept = cents[lo: n - lo]
        r = got[g]
        assert r.n_lines == n and r.kept_lines == n - 2 * lo, g
        if lo:
            assert r.low_cut_cents == cents[lo - 1], g
            assert r.high_cut_cents == cents[n - lo - 1], g
        # same IEEE division sequence as both engines: /100 then /kept
        assert r.trimmed_mean == float(sum(kept)) / 100.0 / len(kept), g


def test_weighted_trimmed_mean_matches_brute_force(spark, tmp_path):
    """agg_weighted_trimmed_mean vs the definitional brute force
    (expand each row to w unit copies, sort, drop W div 10 units from
    each end, average the rest) on planted groups: ties at BOTH
    weighted cuts (partial weight of a value trimmed), a cut landing
    exactly on a value's cumulative-weight boundary, W < 10 (lo = 0 —
    equals the plain weighted mean), a single distinct value
    (clo = chi), and one heavy row spanning both cuts (clo = chi with
    kept weight inside a single row's weight)."""
    from databricks_etl_pipelines_spark.catalog import QUERIES, load_all

    load_all()
    planted = {
        # W=10, lo=1: ties at both cuts — 1 of 3 bottom units and
        # 1 of 3 top units trimmed
        "A": [(1.0, 3), (5.0, 4), (9.0, 3)],
        # W=20, lo=2: partial-weight trim inside each tail value
        "B": [(2.0, 5), (4.0, 10), (8.0, 5)],
        # W=9, lo=0: plain weighted mean
        "C": [(10.0, 2), (20.0, 3), (30.0, 4)],
        # W=20, lo=2: cut exactly ON the 1.0/5.0 weight boundary —
        # both 1.0 units and both 9.0 units trimmed, kept = all 5.0s
        "D": [(1.0, 2), (5.0, 16), (9.0, 2)],
        # single distinct value: clo = chi, mean = the value
        "E": [(7.0, 25)],
        # W=102, lo=10: one heavy row straddles BOTH cuts (clo = chi =
        # 3.0; 9 bottom + 9 top of its 100 units trimmed)
        "F": [(1.0, 1), (3.0, 100), (9.0, 1)],
    }
    rows = []
    k = 0
    for g, vs in planted.items():
        for v, w in vs:
            rows.append((k, g, v, float(w)))
            k += 1
    df = spark.createDataFrame(
        rows,
        "l_orderkey long, l_returnflag string, l_extendedprice double,"
        " l_quantity double",
    )
    d = tmp_path / "li"
    df.write.parquet(f"{d}/lineitem.parquet")
    got = {
        r.l_returnflag: r
        for r in QUERIES["agg_weighted_trimmed_mean"](
            spark, str(d)
        ).collect()
    }
    for g, vs in planted.items():
        expanded = sorted(
            int(v * 100 + 0.5) for v, w in vs for _ in range(int(w))
        )
        W = len(expanded)
        lo = W // 10
        kept = expanded[lo: W - lo]
        r = got[g]
        assert r.total_weight == W and r.kept_weight == len(kept), g
        if lo:
            assert r.low_cut_cents == expanded[lo - 1], g
        assert r.high_cut_cents == expanded[W - lo - 1], g
        # same IEEE division sequence as both engines: /100 then /kept
        assert r.weighted_trimmed_mean == float(sum(kept)) / 100.0 / len(
            kept
        ), g


def test_ngram_novelty_planted_corpus(spark, tmp_path):
    """text_ngram_novelty on a planted corpus: the first doc is fully
    novel, an exact re-post contributes nothing, a partial overlap
    scores the fraction of its shingles not seen earlier, and a sub-k
    doc falls back to its whole-text single shingle."""
    from databricks_etl_pipelines_spark.catalog import QUERIES, load_all

    load_all()
    docs = [
        (1, "a b c d"),        # shingles {a b c, b c d} — both novel
        (2, "b c d e"),        # {b c d, c d e} — one novel
        (3, "a b c d"),        # exact re-post — zero novel
        (4, "zz"),             # < 3 tokens — whole-text shingle, novel
    ]
    spark.createDataFrame(docs, "doc_id long, text string").write.parquet(
        f"{tmp_path}/docs/documents.parquet"
    )
    got = {
        r.doc_id: (r.n_shingles, r.novel_shingles, r.novelty_ratio)
        for r in QUERIES["text_ngram_novelty"](
            spark, f"{tmp_path}/docs"
        ).collect()
    }
    assert got[1] == (2, 2, 1.0)
    assert got[2] == (2, 1, 0.5)
    assert got[3] == (2, 0, 0.0)
    assert got[4] == (1, 1, 1.0)


def test_holt_linear_planted_recurrence(spark, tmp_path):
    """window_holt_linear vs the hand-computed Holt recurrence on a
    planted trending series (input order scrambled): two-point init
    l = x2, b = x2 - x1, then l' = (x+l+b)/2, b' = ((l'-l)+3b)/4.
    Covers n=1 (level=x, trend=0), n=2 (seed only), and a linear
    ramp whose one-step forecast must continue the ramp."""
    import datetime as dt

    from databricks_etl_pipelines_spark.catalog import QUERIES, load_all

    load_all()
    rows = [
        # user 7: perfect ramp 10,20,30,40 (scrambled input order)
        (3, dt.datetime(2024, 1, 1, 0, 3), 7, "e", 30.0, "{}"),
        (1, dt.datetime(2024, 1, 1, 0, 1), 7, "e", 10.0, "{}"),
        (4, dt.datetime(2024, 1, 1, 0, 4), 7, "e", 40.0, "{}"),
        (2, dt.datetime(2024, 1, 1, 0, 2), 7, "e", 20.0, "{}"),
        # user 8: single event
        (9, dt.datetime(2024, 1, 1, 0, 9), 8, "e", 5.0, "{}"),
        # user 9: exactly two events — fold never runs, seed reported
        (10, dt.datetime(2024, 1, 1, 0, 1), 9, "e", 3.0, "{}"),
        (11, dt.datetime(2024, 1, 1, 0, 2), 9, "e", 8.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    df.write.parquet(f"{tmp_path}/events.parquet")
    out = {
        r.user_id: r
        for r in QUERIES["window_holt_linear"](
            spark, str(tmp_path)
        ).collect()
    }
    # user 7: replicate the exact float ops
    lvl, tr = 20.0, 10.0
    for x in (30.0, 40.0):
        lnew = (x + lvl + tr) / 2.0
        tr = ((x + lvl + tr) / 2.0 - lvl + 3.0 * tr) / 4.0
        lvl = lnew
    r7 = out[7]
    assert (r7.level, r7.trend) == (round(lvl, 6), round(tr, 6))
    assert r7.forecast_1 == round(lvl + tr, 6)
    # a perfect ramp's forecast must overshoot the last observation
    assert r7.forecast_1 > 40.0
    assert out[8].level == 5.0 and out[8].trend == 0.0
    assert out[9].level == 8.0 and out[9].trend == 5.0
    assert out[9].forecast_1 == 13.0


def test_holt_winters_planted_recurrence(spark, tmp_path):
    """window_holt_winters vs a bit-exact Python replay of the triple
    recurrence (uniform init l = x1, b = 0, s = 0; hour-of-day slots)
    on planted series with scrambled input order: a multi-day diurnal
    series revisiting the same hour slots (slot state must accumulate
    across days), n = 1 (seed only — level = x, trend = 0, seasonal
    all zero) and n = 2 (exactly one fold step)."""
    import datetime as dt
    import math

    from databricks_etl_pipelines_spark.catalog import QUERIES, load_all

    load_all()

    def sr(x):  # stable_round(6) replica
        return math.floor(x * 1000000 + 0.5) / 1000000

    # user 7: two days x hours {0, 6, 12, 18}, diurnal values with an
    # upward drift — day-2 observations re-update day-1's slots
    series7 = [
        (dt.datetime(2024, 1, 1, 0, 0), 100.0),
        (dt.datetime(2024, 1, 1, 6, 0), 140.0),
        (dt.datetime(2024, 1, 1, 12, 0), 180.0),
        (dt.datetime(2024, 1, 1, 18, 0), 150.0),
        (dt.datetime(2024, 1, 2, 0, 0), 110.0),
        (dt.datetime(2024, 1, 2, 6, 0), 150.0),
        (dt.datetime(2024, 1, 2, 12, 0), 190.0),
        (dt.datetime(2024, 1, 2, 18, 0), 160.0),
    ]
    rows = [
        # scrambled input order: the fold must re-sort by (ts, event_id)
        (i, ts, 7, "e", v, "{}")
        for i, (ts, v) in enumerate(reversed(series7))
    ]
    rows.append((100, dt.datetime(2024, 1, 1, 9, 0), 8, "e", 5.0, "{}"))
    rows += [
        (101, dt.datetime(2024, 1, 1, 3, 0), 9, "e", 10.0, "{}"),
        (102, dt.datetime(2024, 1, 1, 3, 30), 9, "e", 30.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    df.write.parquet(f"{tmp_path}/events.parquet")
    out = {
        r.user_id: r
        for r in QUERIES["window_holt_winters"](
            spark, str(tmp_path)
        ).collect()
    }

    def replay(series):
        # series sorted by ts; replicate the EXACT float op shapes
        lvl, b = series[0][1], 0.0
        s = [0.0] * 24
        for ts, x in series[1:]:
            h = ts.hour
            sh = s[h]
            lnew = (x - sh + lvl + b) / 2.0
            bnew = ((x - sh + lvl + b) / 2.0 - lvl + 3.0 * b) / 4.0
            snew = (x - (x - sh + lvl + b) / 2.0 + sh) / 2.0
            lvl, b, s[h] = lnew, bnew, snew
        return lvl, b, min(s), max(s)

    lvl, b, smin, smax = replay(series7)
    r7 = out[7]
    assert (r7.level, r7.trend) == (sr(lvl), sr(b))
    assert (r7.seasonal_min, r7.seasonal_max) == (sr(smin), sr(smax))
    # diurnal amplitude learned: midnight slot below noon slot
    assert smax > 0.0
    r8 = out[8]
    assert (r8.level, r8.trend) == (5.0, 0.0)
    assert (r8.seasonal_min, r8.seasonal_max) == (0.0, 0.0)
    # user 9: one fold step by hand — both events in hour 3
    #   lnew = (30 - 0 + 10 + 0)/2 = 20; bnew = (20 - 10 + 0)/4 = 2.5
    #   snew = (30 - 20 + 0)/2 = 5
    r9 = out[9]
    assert (r9.level, r9.trend) == (20.0, 2.5)
    assert (r9.seasonal_min, r9.seasonal_max) == (0.0, 5.0)


def test_mad_robust_z_matches_brute_force(spark, tmp_path):
    """agg_mad_robust_z vs the definitional brute force (lower median,
    lower median of absolute deviations, exact 3*1.4826 threshold) on
    planted groups: an even-n group (lower-median tie-break), a group
    with one gross outlier that stddev-z would drown in, and a
    constant group (MAD = 0 — only exact duplicates survive the
    threshold)."""
    import statistics

    from databricks_etl_pipelines_spark.catalog import QUERIES, load_all

    load_all()
    planted = {
        # gross outlier: med=10, MAD=1 -> threshold 4.4478 dollars
        "A": [9.0, 10.0, 10.0, 11.0, 11.0, 1000.0],
        # even n, lower median; spread values straddling buckets
        "B": [500.0, 1500.0, 2500.0, 3500.0],
        # constant group: MAD 0, no outliers
        "C": [42.0, 42.0, 42.0],
    }
    rows = []
    k = 0
    for g, vs in planted.items():
        for v in vs:
            rows.append((k, g, v, 1.0))
            k += 1
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_returnflag string, l_extendedprice double,"
        " l_quantity double",
    ).write.parquet(f"{tmp_path}/lineitem.parquet")
    got = {
        r.l_returnflag: r
        for r in QUERIES["agg_mad_robust_z"](spark, str(tmp_path)).collect()
    }
    for g, vs in planted.items():
        cents = sorted(int(v * 100 + 0.5) for v in vs)
        med = statistics.median_low(cents)
        devs = sorted(abs(c - med) for c in cents)
        mad = statistics.median_low(devs)
        outl = sum(1 for c in cents if 10000 * abs(c - med) > 44478 * mad)
        r = got[g]
        assert (r.median_cents, r.mad_cents, r.n_outliers) == (
            med, mad, outl,
        ), g
        assert r.n_lines == len(vs)
        assert r.outlier_ratio == float(outl) / len(vs)
    # the designed semantics: A's 1000.0 is the one outlier
    assert got["A"].n_outliers == 1
    assert got["C"].mad_cents == 0 and got["C"].n_outliers == 0


def test_bootstrap_ci_exact_python_replay(spark, tmp_path):
    """diag_bootstrap_ci vs a full Python replay of the deterministic
    resampling (int64 multiplicative mix → Poisson inverse-CDF ladder →
    replicate means → rank-crossing CI) on a planted table — every
    weight, every replicate mean and both CI endpoints must match
    bit-for-bit — plus the structural invariants ci_lo <= mean <= ci_hi
    (a symmetric planted sample) and ci_lo <= ci_hi."""
    import math

    from databricks_etl_pipelines_spark.catalog import QUERIES, load_all
    from databricks_etl_pipelines_spark.plans.queries_aggregates import (
        _BOOT_B,
        _BOOT_SEED,
        _POIS_T,
    )

    load_all()
    rows = [
        (k, 1 + (k % 3), "A", float(100 + 10 * (k % 7)))
        for k in range(25)
    ]
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_linenumber int, l_returnflag string,"
        " l_extendedprice double",
    ).write.parquet(f"{tmp_path}/lineitem.parquet")
    got = QUERIES["diag_bootstrap_ci"](spark, str(tmp_path)).collect()
    assert len(got) == 1
    r = got[0]

    def mix(ok, ln, rep):
        h = ((ok % 2147483647) * 1000003 + ln) % 2147483647
        h = (h ^ (rep * 2654435761 + _BOOT_SEED)) % 2147483647
        return h * 1000003 % 2147483647 * 1000003 % 2147483647 % 1000000

    def pois(bkt):
        for i, t in enumerate(_POIS_T):
            if bkt < t:
                return i
        return 7

    cents = {
        (ok, ln): int(v * 100 + 0.5) for ok, ln, _, v in rows
    }
    means = []
    for rep in range(1, _BOOT_B + 1):
        nw = sw = 0
        for (ok, ln), c in cents.items():
            w = pois(mix(ok, ln, rep))
            nw += w
            sw += w * c
        if nw > 0:
            means.append(float(sw) / nw / 100.0)
    means.sort()
    bp = len(means)
    lo = means[math.ceil(5 * bp / 100) - 1]
    hi = means[math.ceil(95 * bp / 100) - 1]
    assert r.ci_replicates == bp
    assert (r.ci_lo, r.ci_hi) == (lo, hi)
    assert r.n_lines == 25
    assert r.mean_price == float(sum(cents.values())) / 25 / 100.0
    assert r.ci_lo <= r.mean_price <= r.ci_hi


def test_bootstrap_ci_ratio_replay_and_planted_shift(spark, tmp_path):
    """diag_bootstrap_ci_ratio vs a full Python replay of the
    deterministic resampling (its OWN seed, replicate shares as one
    int64 quotient, rank-crossing CI), plus the planted COMPOSITION
    SHIFT the mean CI is blind to: groups A and B have IDENTICAL price
    multisets (mean CIs coincide) but bulk shares 0.5 vs 0.1 — the
    ratio CIs must be disjoint and each bracket its own share."""
    import math

    from databricks_etl_pipelines_spark.catalog import QUERIES, load_all
    from databricks_etl_pipelines_spark.plans.queries_aggregates import (
        _BOOT_B,
        _BOOT_SEED_RATIO,
        _POIS_T,
    )

    load_all()
    # identical prices in both groups; quantities differ: A has 50%
    # bulk (>= 30), B has 10% bulk — okeys disjoint so the two groups
    # draw different weights
    rows = []
    for k in range(100):
        price = float(100 + 10 * (k % 7))
        rows.append((k, 1, "A", price, 40.0 if k % 2 == 0 else 10.0))
        rows.append(
            (1000 + k, 1, "B", price, 40.0 if k % 10 == 0 else 10.0)
        )
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_linenumber int, l_returnflag string,"
        " l_extendedprice double, l_quantity double",
    ).write.parquet(f"{tmp_path}/lineitem.parquet")
    got = {
        r.l_returnflag: r
        for r in QUERIES["diag_bootstrap_ci_ratio"](
            spark, str(tmp_path)
        ).collect()
    }

    def mix(ok, ln, rep):
        h = ((ok % 2147483647) * 1000003 + ln) % 2147483647
        h = (h ^ (rep * 2654435761 + _BOOT_SEED_RATIO)) % 2147483647
        return h * 1000003 % 2147483647 * 1000003 % 2147483647 % 1000000

    def pois(bkt):
        for i, t in enumerate(_POIS_T):
            if bkt < t:
                return i
        return 7

    for g in ("A", "B"):
        members = [
            (ok, ln, 1 if q >= 30 else 0)
            for ok, ln, gg, _, q in rows
            if gg == g
        ]
        shares = []
        for rep in range(1, _BOOT_B + 1):
            nw = sw = 0
            for ok, ln, i in members:
                w = pois(mix(ok, ln, rep))
                nw += w
                sw += w * i
            if nw > 0:
                shares.append(float(sw) / nw)
        shares.sort()
        bp = len(shares)
        lo = shares[math.ceil(5 * bp / 100) - 1]
        hi = shares[math.ceil(95 * bp / 100) - 1]
        r = got[g]
        point = float(sum(i for _, _, i in members)) / len(members)
        assert r.n_lines == len(members)
        assert r.bulk_share == point, g
        assert r.ci_replicates == bp
        assert (r.ci_lo, r.ci_hi) == (lo, hi), g
        assert r.ci_lo <= r.bulk_share <= r.ci_hi, g
    # the shift the mean CI can't catch: disjoint ratio CIs
    assert got["B"].ci_hi < got["A"].ci_lo
    # and the mean CI genuinely can't: identical price multisets give
    # identical mean points (weights differ only through okeys, so the
    # CIs overlap around the same center)
    mean_rows = {
        r.l_returnflag: r
        for r in QUERIES["diag_bootstrap_ci"](
            spark, str(tmp_path)
        ).collect()
    }
    assert mean_rows["A"].mean_price == mean_rows["B"].mean_price
    assert (
        mean_rows["A"].ci_lo <= mean_rows["B"].ci_hi
        and mean_rows["B"].ci_lo <= mean_rows["A"].ci_hi
    )


# -- round-11 distribution diagnostics (queries_stats.py) ----------------------


def _write_events(spark, tmp_path, rows):
    """Planted events table: (event_type, value, early?) triples; early
    rows land on 2024-01-10, late on 2024-01-20 (the catalog cohort
    cutpoint is 2024-01-16)."""
    import datetime as dt

    data = [
        (
            i,
            dt.datetime(2024, 1, 10 if early else 20, 12, 0, 0),
            i,
            g,
            float(v),
            "{}",
        )
        for i, (g, v, early) in enumerate(rows)
    ]
    spark.createDataFrame(
        data,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")


def test_ks_two_sample_planted(spark, tmp_path):
    """diag_ks_two_sample vs the definitional brute force on planted
    cohorts: a clean location shift (D = 1), identical samples (D = 0),
    and a tied/interleaved case where the max gap sits at an interior
    value (and the smallest-value tie rule picks the first location)."""
    from databricks_etl_pipelines_spark.catalog import QUERIES, load_all

    load_all()
    planted = {
        # disjoint supports: every early value below every late one
        "shift": ([1.0, 2.0, 3.0], [10.0, 11.0, 12.0]),
        # identical multisets: D = 0
        "same": ([5.0, 6.0, 7.0], [5.0, 6.0, 7.0]),
        # interleaved with ties: brute-force the max gap
        "mix": ([1.0, 2.0, 2.0, 5.0], [2.0, 4.0, 6.0]),
    }
    rows = []
    for g, (a, b) in planted.items():
        rows += [(g, v, True) for v in a] + [(g, v, False) for v in b]
    _write_events(spark, tmp_path, rows)
    got = {
        r.event_type: r
        for r in QUERIES["diag_ks_two_sample"](spark, str(tmp_path)).collect()
    }
    for g, (a, b) in planted.items():
        ac = sorted(int(v * 100 + 0.5) for v in a)
        bc = sorted(int(v * 100 + 0.5) for v in b)
        na, nb = len(ac), len(bc)
        best, at = -1, None
        for v in sorted(set(ac) | set(bc)):
            ca = sum(1 for x in ac if x <= v)
            cb = sum(1 for x in bc if x <= v)
            dn = abs(ca * nb - cb * na)
            if dn > best:
                best, at = dn, v
        r = got[g]
        assert (r.n_early, r.n_late) == (na, nb), g
        assert r.ks_num == best, g
        assert r.ks_at_cents == at, g
        assert r.ks_stat == float(best) / (float(na) * float(nb)), g
    assert got["shift"].ks_stat == 1.0
    assert got["same"].ks_num == 0


def test_mannwhitney_planted_pairwise(spark, tmp_path):
    """diag_mannwhitney_u vs the PAIRWISE definition (U = #{a > b} +
    #ties/2, carried as the exact integer 2U = 2·#gt + #ties) on
    planted cohorts: a clean dominance (AUC = 1), symmetric samples
    (AUC = 0.5), and a heavy-tie case where the average-rank identity
    is the part under test."""
    from databricks_etl_pipelines_spark.catalog import QUERIES, load_all

    load_all()
    planted = {
        "dom": ([10.0, 11.0], [1.0, 2.0, 3.0]),
        "sym": ([1.0, 5.0], [1.0, 5.0]),
        "ties": ([2.0, 2.0, 3.0, 7.0], [2.0, 3.0, 3.0]),
    }
    rows = []
    for g, (a, b) in planted.items():
        rows += [(g, v, True) for v in a] + [(g, v, False) for v in b]
    _write_events(spark, tmp_path, rows)
    got = {
        r.event_type: r
        for r in QUERIES["diag_mannwhitney_u"](spark, str(tmp_path)).collect()
    }
    for g, (a, b) in planted.items():
        ac = [int(v * 100 + 0.5) for v in a]
        bc = [int(v * 100 + 0.5) for v in b]
        na, nb = len(ac), len(bc)
        gt = sum(1 for x in ac for y in bc if x > y)
        eq = sum(1 for x in ac for y in bc if x == y)
        u2 = 2 * gt + eq
        r = got[g]
        assert (r.n_early, r.n_late) == (na, nb), g
        assert r.u2_early == u2, g
        assert r.auc_early == float(u2) / (2.0 * float(na) * float(nb)), g
        assert r.rank_biserial == float(u2) / (float(na) * float(nb)) - 1.0, g
    assert got["dom"].auc_early == 1.0
    assert got["sym"].auc_early == 0.5


def test_chi_square_planted_grid(spark, tmp_path):
    """diag_chi_square_drift vs the definitional brute force on a
    planted 3x2 contingency table with one MISSING cell — the zero
    cell must still contribute its expectation (the grid is rebuilt
    from the marginals, not from observed combinations)."""
    import math

    from databricks_etl_pipelines_spark.catalog import QUERIES, load_all

    load_all()
    counts = {
        ("1-URGENT", "F"): 30,
        ("1-URGENT", "O"): 10,
        ("2-HIGH", "F"): 5,
        ("2-HIGH", "O"): 25,
        ("3-LOW", "F"): 12,
        # ("3-LOW", "O") intentionally absent: O = 0 cell
    }
    rows, k = [], 0
    for (p, s), c in counts.items():
        for _ in range(c):
            rows.append((k, p, s))
            k += 1
    spark.createDataFrame(
        rows, "o_orderkey long, o_orderpriority string, o_orderstatus string"
    ).write.parquet(f"{tmp_path}/orders.parquet")
    r = QUERIES["diag_chi_square_drift"](spark, str(tmp_path)).collect()[0]
    n = sum(counts.values())
    ps = sorted({p for p, _ in counts})
    ss = sorted({s for _, s in counts})
    rowt = {p: sum(c for (pp, _), c in counts.items() if pp == p) for p in ps}
    colt = {s: sum(c for (_, cs), c in counts.items() if cs == s) for s in ss}
    chi_q = 0
    for p in ps:
        for s in ss:
            o = float(counts.get((p, s), 0))
            e = float(rowt[p]) * float(colt[s]) / float(n)
            chi_q += int((o - e) * (o - e) / e * 1e6 + 0.5)
    chi2 = float(chi_q) / 1e6
    assert r.n_orders == n
    assert (r.n_priorities, r.n_statuses) == (len(ps), len(ss))
    assert r.dof == (len(ps) - 1) * (len(ss) - 1)
    assert r.chi_square == chi2
    assert r.cramers_v == math.sqrt(
        chi2 / (float(n) * float(min(len(ps), len(ss)) - 1))
    )


def test_gini_planted_distributions(spark, tmp_path):
    """agg_gini_concentration vs the rank-formula brute force on
    planted segments: perfect equality (G = 0), a single customer
    (G = 0, top-decile share 0 since n div 10 = 0), near-total
    concentration, and a tie-heavy segment (the formula is invariant
    to tie order)."""
    from databricks_etl_pipelines_spark.catalog import QUERIES, load_all

    load_all()
    planted = {
        "EQUAL": [100.0] * 10,
        "ONE": [500.0],
        "CONC": [1.0] * 9 + [991.0],
        "TIES": [10.0, 10.0, 10.0, 40.0, 40.0, 100.0],
    }
    orders, custs, key = [], [], 0
    for g, revs in planted.items():
        for v in revs:
            orders.append((key, key, float(v)))
            custs.append((key, g))
            key += 1
    spark.createDataFrame(
        orders, "o_orderkey long, o_custkey long, o_totalprice double"
    ).write.parquet(f"{tmp_path}/orders.parquet")
    spark.createDataFrame(
        custs, "c_custkey long, c_mktsegment string"
    ).write.parquet(f"{tmp_path}/customer.parquet")
    got = {
        r.c_mktsegment: r
        for r in QUERIES["agg_gini_concentration"](
            spark, str(tmp_path)
        ).collect()
    }
    for g, revs in planted.items():
        xs = sorted(int(v * 100 + 0.5) for v in revs)
        n, s = len(xs), sum(xs)
        w = sum((i + 1) * x for i, x in enumerate(xs))
        gini = (2.0 * float(w) - (float(n) + 1.0) * float(s)) / (
            float(n) * float(s)
        )
        k = n // 10
        ts = sum(xs[n - k:]) if k else 0
        r = got[g]
        assert r.n_customers == n, g
        assert r.total_revenue == float(s) / 100.0, g
        assert r.gini == gini, g
        assert r.top_decile_share == float(ts) / float(s), g
    assert got["EQUAL"].gini == 0.0
    assert got["ONE"].gini == 0.0
    assert got["CONC"].gini > 0.85
    assert got["EQUAL"].top_decile_share == 0.1


def test_ols_planted_exact_line(spark, tmp_path):
    """ml_ols_per_group on planted groups: an exact noise-free line
    (recovers slope/intercept exactly in the closed form's own float
    sequence, R² = 1), a noisy relation checked against the brute-force
    normal equations, and a constant-x group (dx = 0 → NULL slope and
    R², the nullif guard)."""
    from databricks_etl_pipelines_spark.catalog import QUERIES, load_all

    load_all()
    planted = {
        # y = 300x + 500 cents exactly (3.00 dollars/unit, 5.00 base)
        "L": [(x, 3.0 * x + 5.0) for x in range(1, 11)],
        # noisy: brute-force the normal equations
        "N": [(1, 4.0), (2, 7.5), (3, 8.0), (4, 13.0), (5, 14.5)],
        # constant x: dx = 0
        "C": [(7, 10.0), (7, 20.0), (7, 30.0)],
    }
    rows, k = [], 0
    for g, pts in planted.items():
        for x, y in pts:
            rows.append((k, g, float(x), float(y)))
            k += 1
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_returnflag string, l_quantity double,"
        " l_extendedprice double",
    ).write.parquet(f"{tmp_path}/lineitem.parquet")
    got = {
        r.l_returnflag: r
        for r in QUERIES["ml_ols_per_group"](spark, str(tmp_path)).collect()
    }
    for g, pts in planted.items():
        xs = [int(x) for x, _ in pts]
        ys = [int(y * 100 + 0.5) for _, y in pts]
        n = float(len(pts))
        sx, sy = float(sum(xs)), float(sum(ys))
        sxy = float(sum(x * y for x, y in zip(xs, ys)))
        sxx = float(sum(x * x for x in xs))
        syy = float(sum(y * y for y in ys))
        dxy = n * sxy - sx * sy
        dx = n * sxx - sx * sx
        dy = n * syy - sy * sy
        r = got[g]
        assert r.n_lines == len(pts), g
        if dx == 0.0:
            assert r.slope is None and r.r_squared is None, g
        else:
            assert r.slope == dxy / dx / 100.0, g
            assert r.intercept == (sy - dxy / dx * sx) / n / 100.0, g
            assert r.r_squared == dxy * dxy / (dx * dy), g
    assert got["L"].slope == 3.0
    assert got["L"].intercept == 5.0
    assert got["L"].r_squared == 1.0


def test_stats_family_plan_shapes(spark):
    """The round-11 stats family keeps its join-backs broadcast: no
    sort-merge join and no cartesian in KS / Mann-Whitney / Gini /
    OLS (the chi-square grid's tiny cross joins are broadcast
    nested-loop by construction, so it is pinned to no-SMJ only)."""
    from databricks_etl_pipelines_spark.catalog import QUERIES, load_all

    load_all()
    sf = "/root/testdata/sf0.001"
    for name in (
        "diag_ks_two_sample",
        "diag_mannwhitney_u",
        "diag_welch_ttest",
        "window_cusum_changepoint",
        "ml_ols_per_group",
        "diag_psi_stability",
        "diag_spearman_corr",
    ):
        df = QUERIES[name](spark, sf)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" not in plan, name
        assert "CartesianProduct" not in plan, name
    df = QUERIES["diag_chi_square_drift"](spark, sf)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan


def test_welch_ttest_planted(spark, tmp_path):
    """diag_welch_ttest vs the textbook brute force (cohort means,
    sample variances, Welch t and Satterthwaite df) on planted
    cohorts: a clear shift, identical cohorts (t = 0), and a
    zero-variance pair (constant values both sides — t/df NULL via the
    nullif guard, mean_diff still exact)."""
    from databricks_etl_pipelines_spark.catalog import QUERIES, load_all

    load_all()
    planted = {
        "shift": ([1.0, 2.0, 3.0, 4.0], [10.0, 12.0, 14.0]),
        "same": ([5.0, 6.0, 7.0], [5.0, 6.0, 7.0]),
        "const": ([4.0, 4.0], [9.0, 9.0]),
    }
    rows = []
    for g, (a, b) in planted.items():
        rows += [(g, v, True) for v in a] + [(g, v, False) for v in b]
    _write_events(spark, tmp_path, rows)
    got = {
        r.event_type: r
        for r in QUERIES["diag_welch_ttest"](spark, str(tmp_path)).collect()
    }
    for g, (a, b) in planted.items():
        ac = [int(v * 100 + 0.5) for v in a]
        bc = [int(v * 100 + 0.5) for v in b]
        n1, n2 = float(len(ac)), float(len(bc))
        m1, m2 = float(sum(ac)) / n1, float(sum(bc)) / n2
        v1 = (float(sum(x * x for x in ac)) - float(sum(ac)) * float(
            sum(ac)) / n1) / (n1 - 1.0)
        v2 = (float(sum(x * x for x in bc)) - float(sum(bc)) * float(
            sum(bc)) / n2) / (n2 - 1.0)
        r = got[g]
        assert (r.n_early, r.n_late) == (len(ac), len(bc)), g
        assert r.mean_diff == (m1 - m2) / 100.0, g
        se = (v1 / n1 + v2 / n2) ** 0.5
        if se == 0.0:
            assert r.welch_t is None and r.welch_df is None, g
        else:
            assert r.welch_t == (m1 - m2) / se, g
            df = (v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2) / (
                v1 / n1 * (v1 / n1) / (n1 - 1.0)
                + v2 / n2 * (v2 / n2) / (n2 - 1.0)
            )
            assert r.welch_df == df, g
    assert got["same"].welch_t == 0.0
    assert got["shift"].welch_t < 0.0  # early mean below late mean


def test_cusum_planted_series(spark, tmp_path):
    """window_cusum_changepoint vs the recurrence replayed in Python on
    planted per-user series: a persistent small shift that alarms (and
    the alarm index sticks at the FIRST crossing), a spiky series that
    resets to zero without alarming, and an n=1 user."""
    import datetime as dt

    from databricks_etl_pipelines_spark.catalog import QUERIES, load_all

    load_all()
    planted = {
        # $250/event persistent: m grows +15000/event, alarms at event 4
        1: [250.0] * 8,
        # one $400 spike then quiet: m = 30000 then decays to 0, no alarm
        2: [400.0, 10.0, 10.0, 10.0, 10.0],
        # single event below allowance
        3: [50.0],
    }
    rows, k = [], 0
    for uid, vals in planted.items():
        for j, v in enumerate(vals):
            rows.append(
                (
                    k,
                    dt.datetime(2024, 1, 10, 8, 0, j),
                    uid,
                    "t",
                    float(v),
                    "{}",
                )
            )
            k += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")
    got = {
        r.user_id: r
        for r in QUERIES["window_cusum_changepoint"](
            spark, str(tmp_path)
        ).collect()
    }
    K, H = 10000, 50000
    for uid, vals in planted.items():
        m = mx = alarm = 0
        for pos, v in enumerate(vals, start=1):
            m = max(0, m + int(v * 100 + 0.5) - K)
            mx = max(mx, m)
            if alarm == 0 and m > H:
                alarm = pos
        r = got[uid]
        assert r.n_events == len(vals), uid
        assert (r.final_cusum, r.max_cusum, r.alarm_index) == (
            m,
            mx,
            alarm,
        ), uid
    assert got[1].alarm_index == 4
    assert got[2].alarm_index == 0 and got[2].final_cusum == 0
    assert got[3].max_cusum == 0


def test_psi_planted_bins(spark, tmp_path):
    """diag_psi_stability vs the definitional brute force on planted
    cohorts: identical cohorts (every psi_contrib ~ 0), a clean
    location shift (late mass escapes the reference deciles into bin
    10), and a mass-collapsed case (one value holding > 10% of the
    reference dedupes edges and leaves empty grid bins that must still
    appear with Laplace-smoothed shares)."""
    import math

    from databricks_etl_pipelines_spark.catalog import QUERIES, load_all

    load_all()
    planted = {
        "same": ([float(i) for i in range(1, 21)], [float(i) for i in range(1, 21)]),
        "shift": ([float(i) for i in range(1, 21)], [100.0 + i for i in range(10)]),
        # 15 of 20 reference values are 5.0 -> edges e_1..e_7 all 5.0
        "mass": ([5.0] * 15 + [1.0, 2.0, 8.0, 9.0, 10.0], [5.0, 7.0, 9.0]),
    }
    rows = []
    for g, (a, b) in planted.items():
        rows += [(g, v, True) for v in a] + [(g, v, False) for v in b]
    _write_events(spark, tmp_path, rows)
    got = {
        (r.event_type, r.bin): r
        for r in QUERIES["diag_psi_stability"](spark, str(tmp_path)).collect()
    }
    for g, (a, b) in planted.items():
        ac = sorted(int(v * 100 + 0.5) for v in a)
        bc = [int(v * 100 + 0.5) for v in b]
        na, nb = len(ac), len(bc)
        # brute-force edges over distinct values
        distinct = sorted(set(ac) | set(bc))
        edges = []
        for k in range(1, 10):
            edges.append(
                min(
                    v
                    for v in distinct
                    if 10 * sum(1 for x in ac if x <= v) >= k * na
                )
            )

        def bin_of(v):
            return 1 + sum(1 for e in edges if e < v)

        for bin_id in range(1, 11):
            a_cnt = sum(1 for x in ac if bin_of(x) == bin_id)
            b_cnt = sum(1 for x in bc if bin_of(x) == bin_id)
            p = (a_cnt + 0.5) / (na + 5.0)
            q = (b_cnt + 0.5) / (nb + 5.0)
            contrib = math.floor((p - q) * math.log(p / q) * 1e6 + 0.5) / 1e6
            r = got[(g, bin_id)]
            assert (r.n_early, r.n_late) == (a_cnt, b_cnt), (g, bin_id)
            assert r.psi_contrib == contrib, (g, bin_id)
    # the shift case: ALL late mass lands in bin 10
    assert got[("shift", 10)].n_late == 10
    assert sum(got[("shift", i)].n_late for i in range(1, 10)) == 0
    # identical cohorts: every contribution is (smoothing-only) tiny
    assert all(abs(got[("same", i)].psi_contrib) < 1e-4 for i in range(1, 11))
    # mass case: collapsed edges leave bins 2..7 EMPTY on both sides,
    # yet the rows exist with smoothed shares
    assert all((("mass", i) in got) for i in range(1, 11))
    empty = [i for i in range(1, 11) if got[("mass", i)].n_early == 0]
    assert len(empty) >= 5


def test_spearman_planted_relations(spark, tmp_path):
    """diag_spearman_corr vs the brute force (Pearson over tie-average
    ranks) on planted groups: a perfect NONLINEAR monotone relation
    (rho = 1 where OLS R² < 1), a perfect reversal (rho = -1), a
    tie-heavy scatter checked against hand-computed average ranks, and
    a constant measure (zero rank variance → NULL via nullif)."""
    from databricks_etl_pipelines_spark.catalog import QUERIES, load_all

    load_all()
    planted = {
        # y = x^3-ish: monotone, nonlinear
        "M": [(1, 1.0), (2, 8.0), (3, 27.0), (4, 64.0), (5, 125.0)],
        # strictly decreasing
        "R": [(1, 50.0), (2, 40.0), (3, 30.0), (4, 20.0)],
        # ties on both sides
        "T": [(1, 5.0), (1, 7.0), (2, 5.0), (2, 9.0), (3, 9.0), (3, 2.0)],
        # constant y
        "C": [(1, 4.0), (2, 4.0), (3, 4.0)],
    }
    rows, k = [], 0
    for g, pts in planted.items():
        for x, y in pts:
            rows.append((k, g, float(x), float(y)))
            k += 1
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_returnflag string, l_quantity double,"
        " l_extendedprice double",
    ).write.parquet(f"{tmp_path}/lineitem.parquet")
    got = {
        r.l_returnflag: r
        for r in QUERIES["diag_spearman_corr"](spark, str(tmp_path)).collect()
    }

    def avg_ranks_x2(vals):
        """2x tie-average ranks of a list, exact integers."""
        s = sorted(vals)
        out = []
        for v in vals:
            below = sum(1 for u in s if u < v)
            t = sum(1 for u in s if u == v)
            out.append(2 * below + t + 1)
        return out

    for g, pts in planted.items():
        xs = [x for x, _ in pts]
        ys = [int(y * 100 + 0.5) for _, y in pts]
        a = avg_ranks_x2(xs)
        b = avg_ranks_x2(ys)
        n = float(len(pts))
        sa, sb = float(sum(a)), float(sum(b))
        sab = float(sum(p * q for p, q in zip(a, b)))
        saa = float(sum(p * p for p in a))
        sbb = float(sum(q * q for q in b))
        num = n * sab - sa * sb
        den = ((n * saa - sa * sa) * (n * sbb - sb * sb)) ** 0.5
        r = got[g]
        assert r.n_lines == len(pts), g
        if den == 0.0:
            assert r.spearman_rho is None, g
        else:
            assert r.spearman_rho == num / den, g
    assert got["M"].spearman_rho == 1.0
    assert got["R"].spearman_rho == -1.0
    assert got["C"].spearman_rho is None
    # and the point of the operator: OLS on the same nonlinear group
    # is strictly below the rank correlation
    ols = {
        r.l_returnflag: r
        for r in QUERIES["ml_ols_per_group"](spark, str(tmp_path)).collect()
    }
    assert ols["M"].r_squared < 1.0


def test_mmr_rerank_diversifies_planted_corpus(spark, tmp_path):
    """similarity_mmr_rerank vs a full Python replay of the greedy
    trajectory (hash embeddings, rounded sims, (rel − maxsim)/2 scores,
    smallest-id ties) on a planted corpus where pure relevance ranking
    would pick two near-duplicates back to back — MMR must demote the
    duplicate below the diverse hit."""
    import hashlib
    import math

    from databricks_etl_pipelines_spark.catalog import QUERIES, load_all
    from databricks_etl_pipelines_spark.operators.similarity import (
        mmr_rerank_topk,
    )

    load_all()
    docs = [
        (0, "alpha beta gamma delta"),               # the query
        (1, "alpha beta gamma epsilon"),             # relevant
        (2, "alpha beta gamma epsilon zeta"),        # near-dup of 1
        (3, "delta gamma theta iota"),               # diverse, relevant
        (4, "alpha beta gamma epsilon zeta eta"),    # near-dup of 1/2
        (5, "kappa lambda mu nu"),                   # irrelevant-ish
        (6, "beta delta xi omicron"),                # mildly relevant
    ]
    spark.createDataFrame(docs, "doc_id long, text string").write.parquet(
        f"{tmp_path}/docs/documents.parquet"
    )
    df = spark.read.parquet(f"{tmp_path}/docs/documents.parquet")
    got = {
        r.rank: r
        for r in mmr_rerank_topk(
            df, "text", "doc_id", query_id=0, n_cands=6, k=4
        ).collect()
    }

    # ---- full Python replay -------------------------------------------------
    def roll(s: str) -> int:
        acc = 0
        for ch in hashlib.md5(s.encode()).hexdigest():
            acc = (acc * 257 + ord(ch)) % 2147483647
        return acc

    def embed(text: str) -> dict:
        e = {}
        for t in text.split():
            h = roll(t)
            b = h % 64
            sgn = (h // 64 % 2) * 2 - 1
            e[b] = e.get(b, 0) + sgn
        return {b: v for b, v in e.items() if v != 0}

    emb = {d: embed(t) for d, t in docs}

    def sim(a: int, b: int) -> float:
        ea, eb = emb[a], emb[b]
        dot = sum(v * eb.get(k, 0) for k, v in ea.items())
        na = sum(v * v for v in ea.values())
        nb = sum(v * v for v in eb.values())
        return math.floor(
            dot / (math.sqrt(float(na)) * math.sqrt(float(nb))) * 1e6 + 0.5
        ) / 1e6

    rel = sorted(
        ((sim(0, d), -d) for d, _ in docs if d != 0), reverse=True
    )[:6]
    cands = {-negd: r for r, negd in rel}
    sel: list = []
    for rank in range(1, 5):
        best = None
        for d, r in cands.items():
            if d in [s[0] for s in sel]:
                continue
            maxsim = max((sim(d, s[0]) for s in sel), default=0.0)
            score = (r - maxsim) / 2.0
            key = (score, -d)
            if best is None or key > best[0]:
                best = (key, d, r, score)
        sel.append((best[1], best[2], best[3]))
        g = got[rank]
        assert g.doc_id == best[1], (rank, g.doc_id, best)
        assert g.rel == best[2], rank
        assert g.mmr_score == best[3], rank

    # the diversity property itself: relevance alone ranks a near-dup
    # second; MMR must rank the diverse doc above at least one near-dup
    rel_order = [d for _, d in sorted(((r, d) for d, r in cands.items()),
                                      key=lambda t: (-t[0], t[1]))]
    picked = [got[i].doc_id for i in range(1, 5)]
    dups = {1, 2, 4} - {picked[0]}
    assert 3 in picked
    assert picked.index(3) < max(
        picked.index(d) if d in picked else 99 for d in dups
    ) or not (dups & set(picked)), (picked, rel_order)


def test_cvm_planted_diffuse_vs_localized(spark, tmp_path):
    """diag_cramer_von_mises vs the definitional brute force, and the
    property that motivates it next to KS: a DIFFUSE shift (every late
    value nudged one lattice step) and a LOCALIZED shift (one value
    mass moved far) with the same KS supremum rank differently under
    the integral criterion."""
    from databricks_etl_pipelines_spark.catalog import QUERIES, load_all

    load_all()
    planted = {
        "same": ([1.0, 2.0, 3.0, 4.0], [1.0, 2.0, 3.0, 4.0]),
        # diffuse: every value shifted +0.01 (one cent)
        "diff": ([1.0, 2.0, 3.0, 4.0], [1.01, 2.01, 3.01, 4.01]),
        # disjoint supports: maximal everything
        "far": ([1.0, 2.0], [9.0, 10.0]),
    }
    rows = []
    for g, (a, b) in planted.items():
        rows += [(g, v, True) for v in a] + [(g, v, False) for v in b]
    _write_events(spark, tmp_path, rows)
    got = {
        r.event_type: r
        for r in QUERIES["diag_cramer_von_mises"](
            spark, str(tmp_path)
        ).collect()
    }
    import math

    for g, (a, b) in planted.items():
        ac = [int(v * 100 + 0.5) for v in a]
        bc = [int(v * 100 + 0.5) for v in b]
        na, nb = len(ac), len(bc)
        sq = 0
        for v in sorted(set(ac) | set(bc)):
            t = sum(1 for x in ac + bc if x == v)
            gap = sum(1 for x in ac if x <= v) / float(na) - sum(
                1 for x in bc if x <= v
            ) / float(nb)
            sq += int(math.floor(float(t) * gap * gap * 1e6 + 0.5))
        r = got[g]
        assert (r.n_early, r.n_late) == (na, nb), g
        assert r.cvm_q6 == sq, g
        assert r.cvm_t == float(na) * nb / (
            (float(na) + nb) * (float(na) + nb)
        ) * (float(sq) / 1e6), g
    assert got["same"].cvm_q6 == 0
    assert 0 < got["diff"].cvm_t < got["far"].cvm_t


def test_neyman_allocation_planted_variance(spark, tmp_path):
    """curation_neyman_allocation on a planted corpus: a high-variance
    stratum receives a larger share of the budget than an equal-sized
    constant stratum (the Neyman property), a single-doc stratum
    allocates 0 (no variance information), allocations never exceed
    stratum size, and the selected-id checksum equals the brute-forced
    hash-rank selection."""
    import hashlib

    from databricks_etl_pipelines_spark.catalog import QUERIES, load_all
    from databricks_etl_pipelines_spark.plans.queries_llm import _NEYMAN_B

    load_all()
    # strata: const (40 docs, all 5 tokens), wild (40 docs, 1..120
    # tokens alternating), lone (1 doc)
    docs, did = [], 0
    for _ in range(40):
        docs.append((did, "const", "a b c d e"))
        did += 1
    for i in range(40):
        n = 1 if i % 2 == 0 else 120
        docs.append((did, "wild", " ".join(["w"] * n)))
        did += 1
    docs.append((did, "lone", "x y z"))
    spark.createDataFrame(
        docs, "doc_id long, source string, text string"
    ).write.parquet(f"{tmp_path}/documents.parquet")
    got = {
        r.source: r
        for r in QUERIES["curation_neyman_allocation"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got["const"].stddev_tokens == 0.0
    assert got["const"].alloc_budget == 0  # zero variance -> zero need
    assert got["lone"].alloc_budget == 0
    assert 0 < got["wild"].alloc_budget <= 40
    assert got["wild"].n_selected == got["wild"].alloc_budget

    # brute-force the hash-rank selection for the wild stratum
    def roll(s: str) -> int:
        acc = 0
        for ch in hashlib.md5(s.encode()).hexdigest():
            acc = (acc * 257 + ch.encode()[0]) % 2147483647
        return acc

    wild = [(d, t) for d, s, t in docs if s == "wild"]
    ranked = sorted(
        wild, key=lambda dt: (roll(f"{dt[0]}:57") % 1000000, dt[0])
    )
    kept = ranked[: got["wild"].alloc_budget]
    assert got["wild"].sel_id_sum == sum(d for d, _ in kept)
    assert got["wild"].sel_tok_sum == sum(
        len(t.split()) for _, t in kept
    )


def test_neyman_binding_cap_waterfill_sums_to_budget(spark, tmp_path):
    """ADVICE r12 closure: when a stratum's proportional Neyman share
    exceeds its size, the waterfill saturates it at N_h and the clipped
    surplus is REDISTRIBUTED over the unsaturated strata — Σ n_h equals
    the budget exactly (the pre-waterfill code silently under-allocated:
    the cap clipped ~190 docs of a 200-doc budget to 2 with no top-up).
    Planted: "tiny" (2 docs, huge dispersion → proportional share ≈ 192
    ≫ 2) saturates at 2; "big"/"med" (300 docs each, equal small
    dispersion) split the 198-doc residual 99/99. The DuckDB oracle is
    replayed on the same planted parquet to pin cross-engine equality
    under a binding cap."""
    import duckdb

    from databricks_etl_pipelines_spark.catalog import (
        ORACLES,
        QUERIES,
        load_all,
    )
    from databricks_etl_pipelines_spark.plans.queries_llm import _NEYMAN_B

    load_all()
    docs, did = [], 0
    for nt in (1, 10001):
        docs.append((did, "tiny", " ".join(["w"] * nt)))
        did += 1
    for i in range(300):
        docs.append((did, "big", " ".join(["w"] * (1 if i % 2 else 3))))
        did += 1
    for i in range(300):
        docs.append((did, "med", " ".join(["w"] * (2 if i % 2 else 4))))
        did += 1
    spark.createDataFrame(
        docs, "doc_id long, source string, text string"
    ).write.parquet(f"{tmp_path}/documents.parquet")
    got = {
        r.source: r
        for r in QUERIES["curation_neyman_allocation"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got["tiny"].alloc_budget == 2  # saturated at its size
    assert got["big"].alloc_budget == 99
    assert got["med"].alloc_budget == 99
    assert (
        sum(r.alloc_budget for r in got.values()) == _NEYMAN_B
    )  # exact, despite the binding cap
    assert all(r.n_selected == r.alloc_budget for r in got.values())

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    oracle = {
        r[0]: r
        for r in con.execute(
            ORACLES["curation_neyman_allocation"]
        ).fetchall()
    }
    for src, row in got.items():
        o = oracle[src]
        assert (
            row.n_docs,
            row.stddev_tokens,
            row.alloc_budget,
            row.n_selected,
            row.sel_id_sum,
            row.sel_tok_sum,
        ) == (o[1], o[2], o[3], o[4], o[5], o[6]), src


def test_neyman_budget_exceeds_weighted_capacity(spark, tmp_path):
    """The B′ = min(B, Σ_{q>0} N_h) clamp: when the budget exceeds the
    total capacity of positively-weighted strata, every weighted stratum
    saturates (selecting ALL its docs), degenerate strata still allocate
    0, and Σ n_h = that capacity — never a silent shortfall against an
    unreachable 200."""
    from databricks_etl_pipelines_spark.catalog import QUERIES, load_all

    load_all()
    docs, did = [], 0
    # two weighted strata with 30 docs each (capacity 60 < B=200)
    for s in ("wa", "wb"):
        for i in range(30):
            docs.append((did, s, " ".join(["w"] * (1 if i % 2 else 9))))
            did += 1
    # one zero-dispersion stratum
    for _ in range(40):
        docs.append((did, "flat", "a b c"))
        did += 1
    spark.createDataFrame(
        docs, "doc_id long, source string, text string"
    ).write.parquet(f"{tmp_path}/documents.parquet")
    got = {
        r.source: r
        for r in QUERIES["curation_neyman_allocation"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got["wa"].alloc_budget == 30 and got["wa"].n_selected == 30
    assert got["wb"].alloc_budget == 30 and got["wb"].n_selected == 30
    assert got["flat"].alloc_budget == 0


def test_drift_suite_single_cohort_degrades_to_null(spark, tmp_path):
    """Self-review regression (round 11): an event type living entirely
    on ONE side of the cohort cutpoint must nullif-degrade — Welch
    means/t/df NULL, CvM NULL, KS stat NULL — on the Spark side (the
    oracle side is pinned by the shared oracle text), never an ANSI
    divide error or an engine-divergent inf."""
    from databricks_etl_pipelines_spark.catalog import QUERIES, load_all

    load_all()
    rows = [("onlyearly", float(v), True) for v in (1.0, 2.0, 3.0)]
    rows += [("both", 1.0, True), ("both", 2.0, False)]
    _write_events(spark, tmp_path, rows)
    w = {
        r.event_type: r
        for r in QUERIES["diag_welch_ttest"](spark, str(tmp_path)).collect()
    }
    assert w["onlyearly"].n_late == 0
    assert w["onlyearly"].mean_diff is None
    assert w["onlyearly"].welch_t is None and w["onlyearly"].welch_df is None
    c = {
        r.event_type: r
        for r in QUERIES["diag_cramer_von_mises"](
            spark, str(tmp_path)
        ).collect()
    }
    assert c["onlyearly"].cvm_q6 is None and c["onlyearly"].cvm_t is None
    k = {
        r.event_type: r
        for r in QUERIES["diag_ks_two_sample"](spark, str(tmp_path)).collect()
    }
    assert k["onlyearly"].ks_stat is None


def test_neyman_all_degenerate_corpus_allocates_zero(spark, tmp_path):
    """Self-review regression (round 11): a corpus where EVERY stratum
    has zero dispersion (constant token counts) gives total weight
    Q = 0 — every allocation must nullif-degrade to 0, not raise an
    integer-division error."""
    from databricks_etl_pipelines_spark.catalog import QUERIES, load_all

    load_all()
    docs = [(i, "s" + str(i % 2), "a b c") for i in range(10)]
    spark.createDataFrame(
        docs, "doc_id long, source string, text string"
    ).write.parquet(f"{tmp_path}/documents.parquet")
    got = QUERIES["curation_neyman_allocation"](
        spark, str(tmp_path)
    ).collect()
    assert len(got) == 2
    for r in got:
        assert r.alloc_budget == 0 and r.n_selected == 0
        assert r.stddev_tokens == 0.0


def test_page_hinkley_planted_series(spark, tmp_path):
    """window_page_hinkley vs the recurrence replayed bit-for-bit in
    Python (running mean, PH excursion, first-alarm stickiness) on
    planted series: a level shift mid-series that alarms, a stationary
    series that never does, and n=1."""
    import datetime as dt

    from databricks_etl_pipelines_spark.catalog import QUERIES, load_all

    load_all()
    planted = {
        # stationary at $50, then jumps to $400 for 10 events
        1: [50.0] * 10 + [400.0] * 10,
        # stationary noise around $100
        2: [100.0, 90.0, 110.0, 95.0, 105.0, 100.0],
        # single event
        3: [75.0],
    }
    rows, k = [], 0
    for uid, vals in planted.items():
        for j, v in enumerate(vals):
            rows.append(
                (
                    k,
                    dt.datetime(2024, 1, 10, 8, j // 60, j % 60),
                    uid,
                    "t",
                    float(v),
                    "{}",
                )
            )
            k += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")
    got = {
        r.user_id: r
        for r in QUERIES["window_page_hinkley"](
            spark, str(tmp_path)
        ).collect()
    }
    import math

    DELTA, LAM = 500.0, 20000.0
    for uid, vals in planted.items():
        n = s = m = minm = phmax = alarm = 0.0
        for v in vals:
            x = float(int(v * 100 + 0.5))
            n = n + 1.0
            s = s + x
            m = m + (x - s / n - DELTA)
            minm = min(minm, m)
            ph = m - minm
            phmax = max(phmax, ph)
            if alarm == 0.0 and ph > LAM:
                alarm = n
        r = got[uid]
        assert r.n_events == len(vals), uid
        assert r.ph_final == math.floor((m - minm) * 1e6 + 0.5) / 1e6, uid
        assert r.ph_max == math.floor(phmax * 1e6 + 0.5) / 1e6, uid
        assert r.alarm_index == int(alarm), uid
    assert got[1].alarm_index > 10  # fires after the level shift
    assert got[2].alarm_index == 0
    assert got[3].ph_max == 0.0


def test_kaplan_meier_planted_censoring(spark, tmp_path):
    """diag_kaplan_meier vs the estimator replayed in raw Python on a
    planted funnel: conversions (first purchase), dropout censoring
    (first error BEFORE the purchase — the later purchase must NOT
    count), end-of-observation censoring (no purchase, no error), a
    same-day tie between events and a censoring (the censored user must
    still sit in that day's risk set — censored-after-events), and a
    user whose FIRST event is the purchase (own cohort, S drops to 0 at
    t=0)."""
    import datetime as dt

    from databricks_etl_pipelines_spark.catalog import QUERIES, load_all

    load_all()
    # (user, [(day, type), ...]) — first event defines the cohort
    planted = {
        1: [(0, "signup"), (2, "purchase")],
        2: [(0, "signup"), (1, "error"), (3, "purchase")],  # censored t=1
        3: [(0, "signup"), (4, "view")],  # censored at last event, t=4
        4: [(0, "signup"), (2, "purchase")],
        5: [(0, "purchase")],  # cohort 'purchase', event at t=0
        6: [(0, "signup"), (2, "error"), (5, "purchase")],  # censored t=2
    }
    rows, k = [], 0
    for uid, evs in planted.items():
        for day, et in evs:
            rows.append(
                (k, dt.datetime(2024, 1, 1 + day, 8, 0, 0), uid, et, 1.0, "{}")
            )
            k += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")
    got = {
        (r.cohort, r.t): r
        for r in QUERIES["diag_kaplan_meier"](spark, str(tmp_path)).collect()
    }

    # raw-Python replay of the estimator
    obs = []  # (cohort, t, is_event)
    for uid, evs in planted.items():
        cohort = evs[0][1]
        t0 = evs[0][0]
        tp = min((d for d, e in evs if e == "purchase"), default=None)
        te = min((d for d, e in evs if e == "error"), default=None)
        tmax = max(d for d, e in evs)
        tcens = te if te is not None else tmax
        if tp is not None and tp <= tcens:
            obs.append((cohort, tp - t0, 1))
        else:
            obs.append((cohort, tcens - t0, 0))
    expected = {}
    for cohort in {c for c, _, _ in obs}:
        co = [(t, e) for c, t, e in obs if c == cohort]
        s = 1.0
        at_risk = len(co)
        for t in sorted({t for t, _ in co}):
            d = sum(1 for tt, e in co if tt == t and e == 1)
            c_ = sum(1 for tt, e in co if tt == t and e == 0)
            s = s * (at_risk - d) / at_risk
            import math

            expected[(cohort, t)] = (
                at_risk,
                d,
                c_,
                math.floor(s * 1000000 + 0.5) / 1000000,
            )
            at_risk -= d + c_
    assert set(got) == set(expected)
    for key, (n_risk, d, c_, surv) in expected.items():
        r = got[key]
        assert (r.n_risk, r.n_event, r.n_censored, r.survival) == (
            n_risk,
            d,
            c_,
            surv,
        ), key
    # the hand-pinned anchors: same-day censoring keeps u6 at risk at
    # t=2 (n_risk 4, not 3), so S = 0.5 there and thereafter
    assert got[("signup", 2)].n_risk == 4
    assert got[("signup", 2)].survival == 0.5
    assert got[("signup", 4)].survival == 0.5
    assert got[("purchase", 0)].survival == 0.0
    # u2's post-error purchase never counts as an event
    assert got[("signup", 1)].n_event == 0


def test_neyman_largest_remainder_tie(spark, tmp_path):
    """The largest-remainder top-up on a planted exact-arithmetic corpus
    (169 docs/stratum -> sdev = d/13 exactly, qh = 1300·d): outlier
    diffs (1, 1, 5) give bases (28, 28, 142) with remainders (4, 4, 6)
    and a 2-doc shortfall — stratum c (remainder 6) takes the first
    top-up, and the a/b remainder TIE breaks by source ascending, so
    'a_src' gets the second: final (29, 28, 143), summing to the
    200-doc budget EXACTLY."""
    from databricks_etl_pipelines_spark.catalog import QUERIES, load_all
    from databricks_etl_pipelines_spark.plans.queries_llm import _NEYMAN_B

    load_all()
    docs, did = [], 0
    for src, d in (("a_src", 1), ("b_src", 1), ("c_src", 5)):
        for i in range(169):
            n_tok = 5 + (d if i == 0 else 0)
            docs.append((did, src, " ".join(["tok"] * n_tok)))
            did += 1
    spark.createDataFrame(
        docs, "doc_id long, source string, text string"
    ).write.parquet(f"{tmp_path}/documents.parquet")
    got = {
        r.source: r
        for r in QUERIES["curation_neyman_allocation"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got["a_src"].alloc_budget == 29  # tie-winner's +1
    assert got["b_src"].alloc_budget == 28
    assert got["c_src"].alloc_budget == 143
    assert (
        sum(r.alloc_budget for r in got.values()) == _NEYMAN_B
    )
    for r in got.values():
        assert r.n_selected == r.alloc_budget


def test_stratified_logrank_simpson_disagreement(spark, tmp_path):
    """Simpson-style plant where the POOLED log-rank fires and the
    STRATIFIED one reads exactly zero: within each first-event value
    band the signup and view cohorts convert with IDENTICAL per-time
    event fractions (O = E at every stratum time), but band composition
    differs by cohort (signup mostly low-band/fast, view mostly
    high-band/slow) — the pooled test mistakes the band imbalance for a
    cohort effect. Per-band O/E/V are replayed in raw Python with the
    engines' exact quantization."""
    import datetime as dt
    import math

    from databricks_etl_pipelines_spark.catalog import QUERIES, load_all

    load_all()
    rows, k, uid = [], 0, 0

    def add_user(cohort, band_value, purchase_day):
        nonlocal k, uid
        uid += 1
        rows.append(
            (k, dt.datetime(2024, 1, 1, 8, 0, 0), uid, cohort,
             band_value, "{}")
        )
        k += 1
        rows.append(
            (k, dt.datetime(2024, 1, 1 + purchase_day, 8, 0, 0), uid,
             "purchase", 1.0, "{}")
        )
        k += 1

    # band low (first value $10 < $35): fast conversion d1/d2 at the
    # SAME 50/50 split in both cohorts; signup-heavy (20 vs 4)
    for d in (1, 2):
        for _ in range(10):
            add_user("signup", 10.0, d)
        for _ in range(2):
            add_user("view", 10.0, d)
    # band high (first value $60): slow conversion d5/d6, view-heavy
    for d in (5, 6):
        for _ in range(2):
            add_user("signup", 60.0, d)
        for _ in range(10):
            add_user("view", 60.0, d)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")

    strat = {
        r.band: r
        for r in QUERIES["diag_logrank_stratified"](
            spark, str(tmp_path)
        ).collect()
    }
    pooled = QUERIES["diag_logrank_test"](spark, str(tmp_path)).collect()[0]

    # raw-Python replay of the per-band hypergeometric sums (quantized
    # exactly like the engines)
    def band_replay(n1_tot, n2_tot, days):
        # days: [(day, d1, d2), ...] in time order
        o1 = e1s = vs = 0
        n1, n2 = n1_tot, n2_tot
        for _, d1, d2 in days:
            dt_, nt = d1 + d2, n1 + n2
            o1 += d1
            e1s += math.floor(dt_ * n1 / nt * 1000000 + 0.5)
            v = (
                dt_ * (n1 / nt) * (1 - n1 / nt)
                * ((nt - dt_) / (nt - 1))
                if nt > 1
                else 0.0
            )
            vs += math.floor(v * 1000000 + 0.5)
            n1 -= d1
            n2 -= d2
        return o1, e1s, vs

    lo = band_replay(20, 4, [(1, 10, 2), (2, 10, 2)])
    hi = band_replay(4, 20, [(5, 2, 10), (6, 2, 10)])
    for band, (o1, e1s, vs) in (("low", lo), ("high", hi)):
        r = strat[band]
        assert r.obs_events_g1 == o1, band
        assert r.exp_events_g1 == e1s / 1000000, band
        assert r.var_logrank == vs / 1000000, band
        # identical within-band schedules: O == E exactly per stratum
        assert r.obs_events_g1 * 1000000 == e1s, band
    # the stratified statistic is exactly zero ...
    assert strat["low"].logrank_chi2_stratified == 0.0
    assert strat["high"].logrank_chi2_stratified == 0.0
    # ... while the pooled test fires hard on the band imbalance
    assert pooled.logrank_chi2 > 3.84

    # the regression twins agree with their tests: the stratified Cox
    # stays at HR = 1 exactly (U(0) = 0 in every stratum, so Newton
    # never moves off the seed) while the pooled Cox reads a strong
    # spurious effect from the same band imbalance
    cox_s = QUERIES["diag_cox_stratified"](spark, str(tmp_path)).collect()[
        0
    ]
    assert cox_s.n_strata == 2
    assert cox_s.log_hazard_ratio == 0.0
    assert cox_s.hazard_ratio == 1.0
    assert cox_s.score_final == 0.0
    cox_p = QUERIES["diag_cox_hazard_ratio"](
        spark, str(tmp_path)
    ).collect()[0]
    assert abs(cox_p.log_hazard_ratio) > 0.5
    assert abs(cox_p.z_score) > 1.96


def test_stratified_km_band_assignment_and_curves(spark, tmp_path):
    """diag_km_stratified: the band comes from the FIRST event's value
    on the exact cents lattice (a $35.00 first event lands in 'high' —
    the < 3500 boundary), later event values never re-band a user, and
    the per-(cohort, band) curves match the KM estimator replayed in
    raw Python."""
    import datetime as dt
    import math

    from databricks_etl_pipelines_spark.catalog import QUERIES, load_all

    load_all()
    # (uid, first_value, [(day, type, value), ...] after the first)
    planted = [
        (1, 10.0, [(1, "purchase", 999.0)]),  # low despite rich purchase
        (2, 10.0, [(2, "purchase", 1.0)]),
        (3, 10.0, [(3, "view", 1.0)]),  # censored t=3
        (4, 35.0, [(1, "purchase", 1.0)]),  # exactly $35 -> high
        (5, 60.0, [(2, "error", 1.0), (4, "purchase", 1.0)]),  # cens t=2
    ]
    rows, k = [], 0
    for uid, v0, evs in planted:
        rows.append(
            (k, dt.datetime(2024, 1, 1, 8, 0, 0), uid, "signup", v0, "{}")
        )
        k += 1
        for day, et, v in evs:
            rows.append(
                (k, dt.datetime(2024, 1, 1 + day, 8, 0, 0), uid, et, v,
                 "{}")
            )
            k += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")
    got = {
        (r.cohort, r.band, r.t): r
        for r in QUERIES["diag_km_stratified"](
            spark, str(tmp_path)
        ).collect()
    }
    # low band: u1 events t=1, u2 t=2, u3 censored t=3
    q6 = lambda x: math.floor(x * 1000000 + 0.5) / 1000000  # noqa: E731
    assert got[("signup", "low", 1)].n_risk == 3
    assert got[("signup", "low", 1)].survival == q6(2 / 3)
    assert got[("signup", "low", 2)].survival == q6((2 / 3) * (1 / 2))
    assert got[("signup", "low", 3)].n_censored == 1
    # high band: u4 ($35.00 boundary) events t=1; u5 censored t=2
    assert got[("signup", "high", 1)].n_risk == 2
    assert got[("signup", "high", 1)].survival == 0.5
    assert got[("signup", "high", 2)].n_censored == 1
    assert len({b for _, b, _ in got}) == 2


def test_logrank_planted_separated_schedules(spark, tmp_path):
    """diag_logrank_test vs the Mantel-Cox sums replayed in raw Python
    on a planted funnel where signup-first users convert fast and
    view-first users convert slow or drop out — O, E, V and chi2 must
    match the textbook per-time hypergeometric sums (quantized exactly
    like the engines), and the fast group must show O1 > E1."""
    import datetime as dt
    import math

    from databricks_etl_pipelines_spark.catalog import QUERIES, load_all

    load_all()
    planted = {
        # signup-first: convert day 0/1
        1: [(0, "signup"), (0, "purchase")],
        2: [(0, "signup"), (1, "purchase")],
        3: [(0, "signup"), (1, "purchase")],
        4: [(0, "signup"), (2, "error"), (9, "purchase")],  # censored t=2
        # view-first: convert day 3/4 or censored
        5: [(0, "view"), (3, "purchase")],
        6: [(0, "view"), (4, "purchase")],
        7: [(0, "view"), (1, "error")],  # censored t=1
        8: [(0, "view"), (5, "view")],  # censored t=5 (end of obs)
        # a click-first user must be EXCLUDED from the two-sample test
        9: [(0, "click"), (0, "purchase")],
    }
    rows, k = [], 0
    for uid, evs in planted.items():
        for day, et in evs:
            rows.append(
                (k, dt.datetime(2024, 1, 1 + day, 8, 0, 0), uid, et, 1.0, "{}")
            )
            k += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")
    got = QUERIES["diag_logrank_test"](spark, str(tmp_path)).collect()
    assert len(got) == 1
    r = got[0]

    # raw replay: observations (group, t, e), g1 = signup
    obs = [("s", 0, 1), ("s", 1, 1), ("s", 1, 1), ("s", 2, 0),
           ("v", 3, 1), ("v", 4, 1), ("v", 1, 0), ("v", 5, 0)]
    times = sorted({t for _, t, _ in obs})
    e1q = vq = o1 = ot = 0
    for t in times:
        n1 = sum(1 for g, tt, _ in obs if g == "s" and tt >= t)
        n2 = sum(1 for g, tt, _ in obs if g == "v" and tt >= t)
        nt = n1 + n2
        d1 = sum(1 for g, tt, e in obs if g == "s" and tt == t and e)
        d2 = sum(1 for g, tt, e in obs if g == "v" and tt == t and e)
        dtt = d1 + d2
        o1 += d1
        ot += dtt
        e1q += math.floor(dtt * n1 / nt * 1e6 + 0.5)
        if nt > 1:
            v = dtt * (n1 / nt) * (1 - n1 / nt) * ((nt - dtt) / (nt - 1))
        else:
            v = 0.0
        vq += math.floor(v * 1e6 + 0.5)
    assert r.obs_events_g1 == o1 == 3
    assert r.obs_events_total == ot == 5  # user 9's purchase excluded
    assert r.exp_events_g1 == e1q / 1e6
    assert r.var_logrank == vq / 1e6
    chi2 = math.floor(
        (o1 - e1q / 1e6) ** 2 / (vq / 1e6) * 1e6 + 0.5
    ) / 1e6
    assert r.logrank_chi2 == chi2
    assert r.obs_events_g1 > r.exp_events_g1  # fast group over-converts


def test_rmst_planted_step_areas(spark, tmp_path):
    """diag_rmst on the KM planted corpus: hand-integrated step areas —
    signup cohort S(t) = 1.0 on [0,2), 0.5 on [2,5] with the implicit
    [0, t_first) unit-survival segment -> RMST 3.5 through tau=5; the
    instant-conversion cohort gets 0; an all-censored single row rides
    the full horizon."""
    import datetime as dt

    from databricks_etl_pipelines_spark.catalog import QUERIES, load_all

    load_all()
    planted = {
        1: [(0, "signup"), (2, "purchase")],
        2: [(0, "signup"), (1, "error"), (3, "purchase")],
        3: [(0, "signup"), (4, "view")],
        4: [(0, "signup"), (2, "purchase")],
        5: [(0, "purchase")],
        6: [(0, "signup"), (2, "error"), (5, "purchase")],
        7: [(0, "view"), (9, "view")],  # censored at t=9 > tau, S=1
    }
    rows, k = [], 0
    for uid, evs in planted.items():
        for day, et in evs:
            rows.append(
                (k, dt.datetime(2024, 1, 1 + day, 8, 0, 0), uid, et, 1.0, "{}")
            )
            k += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")
    got = {
        r.cohort: r for r in QUERIES["diag_rmst"](spark, str(tmp_path)).collect()
    }
    # signup: [0,1) 1.0 + [1,2) 1.0 + [2,4) 0.5*2 + [4,5) 0.5 = 3.5
    assert got["signup"].rmst_days == 3.5
    assert got["signup"].horizon_days == 5
    assert got["purchase"].rmst_days == 0.0
    # view user censored at t=9: single row beyond tau -> S=1 on [0,5]
    assert got["view"].rmst_days == 5.0


def test_nelson_aalen_planted_hazard(spark, tmp_path):
    """diag_nelson_aalen vs raw-Python hazard sums on the KM planted
    corpus: per-time d/n increments quantize exactly like the engines
    and the cumulative hazard is their integer cumsum; -ln(KM) >= NA
    pointwise (the standard inequality) on every row."""
    import datetime as dt
    import math

    from databricks_etl_pipelines_spark.catalog import QUERIES, load_all

    load_all()
    planted = {
        1: [(0, "signup"), (2, "purchase")],
        2: [(0, "signup"), (1, "error"), (3, "purchase")],
        3: [(0, "signup"), (4, "view")],
        4: [(0, "signup"), (2, "purchase")],
        6: [(0, "signup"), (2, "error"), (5, "purchase")],
    }
    rows, k = [], 0
    for uid, evs in planted.items():
        for day, et in evs:
            rows.append(
                (k, dt.datetime(2024, 1, 1 + day, 8, 0, 0), uid, et, 1.0, "{}")
            )
            k += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")
    na = {
        (r.cohort, r.t): r
        for r in QUERIES["diag_nelson_aalen"](spark, str(tmp_path)).collect()
    }
    km = {
        (r.cohort, r.t): r
        for r in QUERIES["diag_kaplan_meier"](spark, str(tmp_path)).collect()
    }
    # signup obs: t=1 c, t=2 d=2 c=1, t=4 c  -> hazards 0/5, 2/4, 0/1
    assert na[("signup", 1)].hazard == 0.0
    assert na[("signup", 2)].hazard == 0.5
    assert na[("signup", 2)].cum_hazard == 0.5
    assert na[("signup", 4)].cum_hazard == 0.5
    # raw replay of the quantized cumsum for every cohort
    for cohort in {c for c, _ in na}:
        ts = sorted(t for c, t in na if c == cohort)
        acc = 0
        for t in ts:
            r = na[(cohort, t)]
            hq = math.floor(r.n_event / r.n_risk * 1e6 + 0.5)
            assert r.hazard == hq / 1e6, (cohort, t)
            acc += hq
            assert r.cum_hazard == acc / 1e6, (cohort, t)
            s = km[(cohort, t)].survival
            if s > 0:
                assert -math.log(s) >= r.cum_hazard - 1e-9, (cohort, t)


def test_survival_family_plan_shapes(spark):
    """The round-12 survival family keeps its plans scan-light and
    join-free: KM / Nelson-Aalen / RMST are ONE parquet scan with no
    join at all (user-level monoid aggregate + lattice windows), and
    log-rank is one scan with no sort-merge join / no cartesian (its
    only relation-combining step is conditional aggregation, not a
    grid rebuild — the r12 trap-ledger lesson)."""
    from databricks_etl_pipelines_spark.catalog import QUERIES, load_all

    load_all()
    sf = "/root/testdata/sf0.001"
    for name, max_scans in (
        ("diag_kaplan_meier", 1),
        ("diag_nelson_aalen", 1),
        ("diag_rmst", 1),
        ("diag_logrank_test", 1),
        # the r13 stratified pair rides the same machinery — widening
        # the partition to (cohort/band) must not add scans or joins
        ("diag_km_stratified", 1),
        ("diag_logrank_stratified", 1),
        # r13 RMST-difference: tail-area suffix sums are windows over
        # the same folded relation — still one scan, no join
        ("diag_rmst_difference", 1),
    ):
        df = QUERIES[name](spark, sf)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        # AQE's toString appends an "== Initial Plan ==" section that
        # repeats every node — count scans in the FINAL plan only
        plan = plan.split("== Initial Plan ==")[0]
        assert "SortMergeJoin" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert plan.count("FileScan parquet") <= max_scans, (
            name,
            plan.count("FileScan parquet"),
        )


def test_cuped_planted_variance_reduction(spark, tmp_path):
    """diag_cuped_adjustment vs the estimator replayed in raw Python on
    a planted experiment where the post metric strongly tracks the
    pre-period covariate: theta, adjusted means and variances must
    match the identical float sequence exactly, and CUPED must CUT the
    variance in both variants (the point of the adjustment)."""
    import datetime as dt
    import math

    from databricks_etl_pipelines_spark.catalog import QUERIES, load_all

    load_all()
    # 12 users; pre x_i varies widely, post y_i = x_i + small variant
    # effect — exactly the correlated structure CUPED exploits
    pre = [10.0, 40.0, 70.0, 100.0, 130.0, 160.0,
           25.0, 55.0, 85.0, 115.0, 145.0, 175.0]
    rows, eid = [], 0
    xs, ys, variants = [], [], []
    for uid in range(12):
        x = pre[uid]
        lift = 5.0 if uid % 2 == 0 else 0.0
        y = x + lift
        rows.append((eid, dt.datetime(2024, 1, 5), uid, "view", x, "{}"))
        eid += 1
        rows.append((eid, dt.datetime(2024, 1, 25), uid, "view", y, "{}"))
        eid += 1
        xs.append(int(x * 100))
        ys.append(int(math.floor(y * 100 + 0.5)))
        variants.append("A" if uid % 2 == 0 else "B")
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")
    got = {
        r.variant: r
        for r in QUERIES["diag_cuped_adjustment"](
            spark, str(tmp_path)
        ).collect()
    }

    # raw replay with the same exact-sums-then-floats sequence
    n = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxx = sum(x * x for x in xs)
    sxy = sum(x * y for x, y in zip(xs, ys))
    theta = float(n * sxy - sx * sy) / float(n * sxx - sx * sx)
    q6 = lambda v: math.floor(v * 1e6 + 0.5) / 1e6
    for variant in ("A", "B"):
        vx = [x for x, g in zip(xs, variants) if g == variant]
        vy = [y for y, g in zip(ys, variants) if g == variant]
        nv = len(vx)
        sxv, syv = sum(vx), sum(vy)
        sxxv = sum(x * x for x in vx)
        sxyv = sum(x * y for x, y in zip(vx, vy))
        syyv = sum(y * y for y in vy)
        mean_y = float(syv) / float(nv)
        mean_cuped = mean_y - theta * (
            float(sxv) / float(nv) - float(sx) / float(n)
        )
        var_y = (float(syyv) - float(syv) * float(syv) / float(nv)) / float(
            nv - 1
        )
        cov_v = (float(sxyv) - float(sxv) * float(syv) / float(nv)) / float(
            nv - 1
        )
        var_x = (float(sxxv) - float(sxv) * float(sxv) / float(nv)) / float(
            nv - 1
        )
        var_cuped = var_y - 2.0 * theta * cov_v + theta * theta * var_x
        r = got[variant]
        assert r.n_users == nv
        assert r.theta == q6(theta)
        assert r.mean_metric == q6(mean_y)
        assert r.mean_cuped == q6(mean_cuped)
        assert r.var_metric == q6(var_y)
        assert r.var_cuped == q6(var_cuped)
        # the adjustment must actually help on correlated data
        assert r.var_cuped < r.var_metric / 100


def test_did_planted_lift(spark, tmp_path):
    """diag_did_estimator vs raw Python on a planted panel with a known
    treated lift: control deltas {0, 10, -10} dollars, treated deltas
    {50, 60, 40} -> DiD exactly $50.00 in cents, SE/t replayed through
    the identical float sequence; a user missing a period contributes 0
    for it (balanced-panel convention)."""
    import datetime as dt
    import math

    from databricks_etl_pipelines_spark.catalog import QUERIES, load_all

    load_all()
    # (uid, pre_dollars or None, post_dollars or None)
    plan = [
        (0, 20.0, 20.0),   # A, delta 0
        (2, 10.0, 20.0),   # A, delta +10
        (4, 20.0, 10.0),   # A, delta -10
        (1, 10.0, 60.0),   # B, delta +50
        (3, None, 60.0),   # B, no pre period -> delta +60
        (5, 20.0, 60.0),   # B, delta +40
    ]
    rows, eid = [], 0
    for uid, pre, post in plan:
        if pre is not None:
            rows.append((eid, dt.datetime(2024, 1, 5), uid, "view", pre, "{}"))
            eid += 1
        if post is not None:
            rows.append(
                (eid, dt.datetime(2024, 1, 25), uid, "view", post, "{}")
            )
            eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")
    r = QUERIES["diag_did_estimator"](spark, str(tmp_path)).collect()[0]
    da = [0, 1000, -1000]
    db = [5000, 6000, 4000]
    q6 = lambda v: math.floor(v * 1e6 + 0.5) / 1e6
    ma, mb = sum(da) / 3.0, sum(db) / 3.0
    va = (sum(x * x for x in da) - sum(da) ** 2 / 3.0) / 2.0
    vb = (sum(x * x for x in db) - sum(db) ** 2 / 3.0) / 2.0
    se = math.sqrt(va / 3.0 + vb / 3.0)
    assert (r.n_control, r.n_treated) == (3, 3)
    assert r.mean_delta_control == q6(ma)
    assert r.mean_delta_treated == q6(mb)
    assert r.did_cents == 5000.0
    assert r.se_did == q6(se)
    assert r.t_stat == q6((mb - ma) / se)


def test_did_cluster_robust_correlated_clusters(spark, tmp_path):
    """diag_did_cluster_robust on a plant where every cluster shares ONE
    common shock (within-cluster correlation = 1): with clusters of 4,
    the naive SE treats 16 deltas per variant as independent and
    understates by ~2x — the robust CR1 SE must come out measurably
    larger (>1.5x here), and every readout must match the sandwich
    algebra replayed in raw Python through the identical float
    sequence. Control clusters carry shocks of +/-$100; treated clusters
    the same shocks plus a +$50 lift, so DiD is exactly $50."""
    import datetime as dt
    import math

    from databricks_etl_pipelines_spark.catalog import QUERIES, load_all

    load_all()
    # cluster = user_id div 4, variant = cluster parity: users 0..15 in
    # clusters 0,2,4,6 hmm — enumerate ids explicitly per cluster
    shocks = [100.0, -100.0, 100.0, -100.0]
    rows, eid = [], 0
    deltas = {"A": [], "B": []}
    for ci, shock in enumerate(shocks):
        for variant, cluster_id, lift in (
            ("A", 2 * ci, 0.0),
            ("B", 2 * ci + 1, 50.0),
        ):
            for m in range(4):
                uid = cluster_id * 4 + m
                delta = shock + lift
                pre, post = (10.0, 10.0 + delta) if delta >= 0 else (
                    10.0 - delta, 10.0
                )
                rows.append(
                    (eid, dt.datetime(2024, 1, 5), uid, "view", pre, "{}")
                )
                eid += 1
                rows.append(
                    (eid, dt.datetime(2024, 1, 25), uid, "view", post,
                     "{}")
                )
                eid += 1
                deltas[variant].append(int(round(delta * 100)))
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")
    r = QUERIES["diag_did_cluster_robust"](spark, str(tmp_path)).collect()[
        0
    ]

    q6 = lambda v: math.floor(v * 1e6 + 0.5) / 1e6  # noqa: E731

    def side(ds, g):
        n = len(ds)
        sd = sum(ds)
        m = sd / n
        va = (sum(x * x for x in ds) - sd * sd / n) / (n - 1)
        # per-cluster sums: consecutive groups of 4
        scs = [sum(ds[i: i + 4]) for i in range(0, n, 4)]
        sss = sum(s * s for s in scs)
        sns = sum(4 * s for s in scs)
        snn = sum(16 for _ in scs)
        cr = (
            (sss - 2.0 * m * sns + m * m * snn) / (n * n) * (g / (g - 1))
        )
        return n, m, va, cr

    na, ma, va, cra = side(deltas["A"], 4)
    nb, mb, vb, crb = side(deltas["B"], 4)
    assert (r.n_control, r.n_treated, r.g_control, r.g_treated) == (
        16, 16, 4, 4,
    )
    assert r.did_cents == q6(mb - ma) == 5000.0
    se_naive = math.sqrt(va / na + vb / nb)
    se_robust = math.sqrt(cra + crb)
    assert r.se_naive == q6(se_naive)
    assert r.se_cluster_robust == q6(se_robust)
    assert r.t_naive == q6((mb - ma) / se_naive)
    assert r.t_robust == q6((mb - ma) / se_robust)
    # the point of the exercise: correlation makes naive SE understate
    assert r.se_cluster_robust > 1.5 * r.se_naive


def test_rmst_difference_planted_curves(spark, tmp_path):
    """diag_rmst_difference vs the Royston-Parmar algebra replayed in
    raw Python on the planted fast-signup / slow-view funnel: RMSTs
    integrate the quantized step functions exactly, tail areas are
    integer suffix sums, per-time variance terms quantize on the 1e-9
    lattice, and the slow cohort's larger RMST yields a positive z."""
    import datetime as dt
    import math

    from databricks_etl_pipelines_spark.catalog import QUERIES, load_all
    from databricks_etl_pipelines_spark.plans.queries_stats import (
        _RMST_TAU,
    )

    load_all()
    planted = {
        # signup-first: convert day 0/1 (fast -> small RMST)
        1: [(0, "signup"), (0, "purchase")],
        2: [(0, "signup"), (1, "purchase")],
        3: [(0, "signup"), (1, "purchase")],
        4: [(0, "signup"), (2, "error")],  # censored t=2
        # view-first: convert day 3/4 or censored (slow -> large RMST)
        5: [(0, "view"), (3, "purchase")],
        6: [(0, "view"), (4, "purchase")],
        7: [(0, "view"), (1, "error")],  # censored t=1
        8: [(0, "view"), (6, "view")],  # censored t=6 (beyond tau)
    }
    rows, k = [], 0
    for uid, evs in planted.items():
        for day, et in evs:
            rows.append(
                (k, dt.datetime(2024, 1, 1 + day, 8, 0, 0), uid, et, 1.0,
                 "{}")
            )
            k += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")
    r = QUERIES["diag_rmst_difference"](spark, str(tmp_path)).collect()[0]

    q6 = lambda v: math.floor(v * 1e6 + 0.5) / 1e6  # noqa: E731

    def replay(obs):
        # obs: [(t, e)] per user; replay KM -> segments -> rmst + var
        s, at_risk = 1.0, len(obs)
        rows = []  # (t, n_risk, d, sq)
        for t in sorted({t for t, _ in obs}):
            d = sum(1 for tt, e in obs if tt == t and e == 1)
            c = sum(1 for tt, e in obs if tt == t and e == 0)
            s = s * (at_risk - d) / at_risk
            rows.append((t, at_risk, d, math.floor(s * 1e6 + 0.5)))
            at_risk -= d + c
        areas = []
        for i, (t, n, d, sq) in enumerate(rows):
            t_next = rows[i + 1][0] if i + 1 < len(rows) else _RMST_TAU
            span = max(
                min(t_next, _RMST_TAU) - min(t, _RMST_TAU), 0
            )
            areas.append(sq * span)
        total = sum(areas)
        t_first = rows[0][0]
        rmst = (total + 1e6 * min(t_first, _RMST_TAU)) / 1e6
        var = 0
        for i, (t, n, d, sq) in enumerate(rows):
            aq = sum(areas[i:])
            if n - d > 0:
                term = (aq / 1e6) * (aq / 1e6) * d / (n * (n - d))
            else:
                term = 0.0
            var += math.floor(term * 1e9 + 0.5)
        return rmst, var / 1e9

    def obs_for(cohort):
        out = []
        for uid, evs in planted.items():
            if evs[0][1] != cohort:
                continue
            tp = min((d for d, e in evs if e == "purchase"), default=None)
            te = min((d for d, e in evs if e == "error"), default=None)
            tmax = max(d for d, e in evs)
            tcens = te if te is not None else tmax
            if tp is not None and tp <= tcens:
                out.append((tp, 1))
            else:
                out.append((tcens, 0))
        return out

    r1, v1 = replay(obs_for("signup"))
    r2, v2 = replay(obs_for("view"))
    assert r.horizon_days == _RMST_TAU
    assert r.rmst_signup == q6(r1)
    assert r.rmst_view == q6(r2)
    assert r.rmst_diff_days == q6(r2 - r1)
    se = math.sqrt(v1 + v2)
    assert r.se_diff == q6(se)
    assert r.z_score == q6((r2 - r1) / se)
    # the slow cohort keeps users longer: positive, material gap
    assert r.rmst_diff_days > 1.0 and r.z_score > 0


def test_srm_check_planted_broken_day(spark, tmp_path):
    """diag_srm_check on a plant with one balanced enrollment day and
    one broken one (20 A vs 5 B): the broken day's chi2 = 225/25 = 9
    fires the flag, the balanced day stays quiet, and the pooled
    statistic matches the exact integer arithmetic."""
    import datetime as dt
    import math

    from databricks_etl_pipelines_spark.catalog import QUERIES, load_all

    load_all()
    rows, eid, uid = [], 0, 0

    def enroll(day, n_a, n_b):
        nonlocal eid, uid
        for _ in range(n_a):
            uid += 2  # even -> A
            rows.append(
                (eid, dt.datetime(2024, 1, day, 9), uid, "view", 1.0, "{}")
            )
            eid += 1
        for _ in range(n_b):
            uid += 2
            rows.append(
                (eid, dt.datetime(2024, 1, day, 9), uid + 1, "view", 1.0,
                 "{}")
            )
            eid += 1

    enroll(1, 10, 10)  # balanced
    enroll(2, 20, 5)   # broken
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")
    got = {
        r.enroll_day: r
        for r in QUERIES["diag_srm_check"](spark, str(tmp_path)).collect()
    }
    q6 = lambda v: math.floor(v * 1e6 + 0.5) / 1e6  # noqa: E731
    ok = got["2024-01-01"]
    assert (ok.n_control, ok.n_treated) == (10, 10)
    assert ok.srm_chi2 == 0.0 and ok.srm_flag == 0
    bad = got["2024-01-02"]
    assert (bad.n_control, bad.n_treated) == (20, 5)
    assert bad.srm_chi2 == q6(225 / 25) == 9.0
    assert bad.srm_flag == 1
    for r in got.values():
        assert r.overall_chi2 == q6((30 - 15) ** 2 / 45)


def test_cox_degenerate_no_cohort_users(spark, tmp_path):
    """Self-review regression (round 13): a corpus with NO signup- or
    view-first users must yield ONE degenerate Cox row (β=0, HR=1, NULL
    se/z, zero score) on the Spark side AND the identical row from the
    DuckDB oracle's NOT-EXISTS fallback — the GROUP BY form alone
    returned 0 oracle rows against Spark's 1."""
    import datetime as dt

    import duckdb

    from databricks_etl_pipelines_spark.catalog import (
        ORACLES,
        QUERIES,
        load_all,
    )

    load_all()
    rows = [
        (0, dt.datetime(2024, 1, 1), 1, "purchase", 1.0, "{}"),
        (1, dt.datetime(2024, 1, 2), 2, "click", 1.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")
    got = QUERIES["diag_cox_hazard_ratio"](spark, str(tmp_path)).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.n_days, r.log_hazard_ratio, r.hazard_ratio) == (0, 0.0, 1.0)
    assert r.se_log_hr is None and r.z_score is None
    assert r.score_final == 0.0

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{tmp_path}/events.parquet/*.parquet')"
    )
    o = con.execute(ORACLES["diag_cox_hazard_ratio"]).fetchall()
    assert len(o) == 1
    assert o[0] == (
        r.n_days, r.n_iter, r.log_hazard_ratio, r.hazard_ratio,
        r.se_log_hr, r.z_score, r.score_final,
    )


def test_competing_risks_planted_aalen_johansen(spark, tmp_path):
    """diag_competing_risks vs the Aalen-Johansen estimator replayed in
    raw Python on a plant where errors genuinely compete (an erroring
    user never purchases): per-row CIFs match the quantized-increment
    cumsums, S + CIF_p + CIF_e stays 1 within the lattice, and the
    naive 1 − KM (error-censored) OVERSTATES the purchase probability —
    the bias the estimator exists to fix."""
    import datetime as dt
    import math

    from databricks_etl_pipelines_spark.catalog import QUERIES, load_all

    load_all()
    planted = {
        # all signup-first; mixture of outcomes on distinct/tied days
        1: [(0, "signup"), (1, "purchase")],
        2: [(0, "signup"), (2, "error")],          # competes at t=2
        3: [(0, "signup"), (2, "error")],          # tied error day
        4: [(0, "signup"), (3, "purchase")],
        5: [(0, "signup"), (4, "view")],           # censored t=4
        6: [(0, "signup"), (1, "error"), (5, "purchase")],  # error wins
    }
    rows, k = [], 0
    for uid, evs in planted.items():
        for day, et in evs:
            rows.append(
                (k, dt.datetime(2024, 1, 1 + day, 8, 0, 0), uid, et, 1.0,
                 "{}")
            )
            k += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")
    got = {
        r.t: r
        for r in QUERIES["diag_competing_risks"](
            spark, str(tmp_path)
        ).collect()
        if r.cohort == "signup"
    }

    # raw-Python Aalen-Johansen replay
    obs = []  # (t, cause)
    for uid, evs in planted.items():
        tp = min((d for d, e in evs if e == "purchase"), default=None)
        te = min((d for d, e in evs if e == "error"), default=None)
        tmax = max(d for d, e in evs)
        if tp is not None and (te is None or tp <= te):
            obs.append((tp, "p"))
        elif te is not None:
            obs.append((te, "e"))
        else:
            obs.append((tmax, "c"))
    n = len(obs)
    s_prev, cifp_q = 1.0, 0
    cife_q, at_risk = 0, n
    for t in sorted({t for t, _ in obs}):
        dp = sum(1 for tt, c in obs if tt == t and c == "p")
        de = sum(1 for tt, c in obs if tt == t and c == "e")
        cc = sum(1 for tt, c in obs if tt == t and c == "c")
        cifp_q += math.floor(s_prev * dp / at_risk * 1e6 + 0.5)
        cife_q += math.floor(s_prev * de / at_risk * 1e6 + 0.5)
        s = s_prev * (at_risk - dp - de) / at_risk
        r = got[t]
        assert r.n_risk == at_risk, t
        assert (r.n_purchase, r.n_error) == (dp, de), t
        assert r.surv_allcause == math.floor(s * 1e6 + 0.5) / 1e6, t
        assert r.cif_purchase == cifp_q / 1e6, t
        assert r.cif_error == cife_q / 1e6, t
        # additivity within the lattice (3 quantized quantities)
        assert (
            abs(r.surv_allcause + r.cif_purchase + r.cif_error - 1.0)
            < len(got) * 3e-6
        ), t
        s_prev = s
        at_risk -= dp + de + cc
    # the bias direction: naive 1 - KM (error-censored) >= CIF_p at the
    # horizon, strictly here because errors removed convertible users
    km = {
        r.t: r.survival
        for r in QUERIES["diag_kaplan_meier"](
            spark, str(tmp_path)
        ).collect()
        if r.cohort == "signup"
    }
    last_km = km[max(km)]
    last_cif = got[max(got)].cif_purchase
    assert (1.0 - last_km) > last_cif


def test_cox_hazard_ratio_planted_funnel(spark, tmp_path):
    """diag_cox_hazard_ratio on a planted tieless funnel, checked three
    INDEPENDENT ways (none reuses the implementation's own iteration):
    the score/information at β=0 must equal the log-rank O−E and (being
    tieless) its variance; the fitted β̂ must MAXIMIZE the Breslow
    partial log-likelihood computed directly in the test (grid
    perturbation ±0.01); and the final score must witness convergence.
    Signup users convert strictly faster, so the hazard ratio exceeds
    1."""
    import datetime as dt
    import math

    from databricks_etl_pipelines_spark.catalog import QUERIES, load_all

    load_all()
    planted = {
        # signup-first convert mostly earlier, view-first mostly later,
        # but the schedules INTERLEAVE (each group has events while the
        # other is still at risk both ways — a separated plant has a
        # monotone likelihood and beta = +inf); all days distinct, so
        # the data are tieless for the I(0) == V identity below
        1: [(0, "signup"), (1, "purchase")],
        2: [(0, "signup"), (2, "purchase")],
        3: [(0, "signup"), (3, "purchase")],
        4: [(0, "signup"), (9, "purchase")],
        5: [(0, "view"), (4, "purchase")],
        6: [(0, "view"), (7, "purchase")],
        7: [(0, "view"), (8, "purchase")],
        8: [(0, "view"), (5, "error")],  # censored t=5
    }
    rows, k = [], 0
    for uid, evs in planted.items():
        for day, et in evs:
            rows.append(
                (k, dt.datetime(2024, 1, 1 + day, 8, 0, 0), uid, et, 1.0,
                 "{}")
            )
            k += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")
    cox = QUERIES["diag_cox_hazard_ratio"](spark, str(tmp_path)).collect()[
        0
    ]
    lr = QUERIES["diag_logrank_test"](spark, str(tmp_path)).collect()[0]

    # independent observation model for the test's own likelihood
    obs = []  # (group 1=signup, t, e)
    for uid, evs in planted.items():
        g = 1 if evs[0][1] == "signup" else 0
        tp = min((d for d, e in evs if e == "purchase"), default=None)
        te = min((d for d, e in evs if e == "error"), default=None)
        tmax = max(d for d, e in evs)
        tcens = te if te is not None else tmax
        if tp is not None and tp <= tcens:
            obs.append((g, tp, 1))
        else:
            obs.append((g, tcens, 0))

    def loglik(beta):
        ll = 0.0
        for t in sorted({t for _, t, e in obs if e == 1}):
            d1 = sum(1 for g, tt, e in obs if tt == t and e and g == 1)
            d = sum(1 for _, tt, e in obs if tt == t and e)
            n1 = sum(1 for g, tt, _ in obs if tt >= t and g == 1)
            n0 = sum(1 for g, tt, _ in obs if tt >= t and g == 0)
            ll += d1 * beta - d * math.log(n1 * math.exp(beta) + n0)
        return ll

    # (1) the Cox score test at beta=0 IS the log-rank: U(0) == O1−E1
    # and, the plant being tieless (every d_t = 1), I(0) == V — both
    # recomputed here from the independent observation model and
    # compared against the already-oracle-verified log-rank readout
    u0 = i0 = 0.0
    for t in sorted({t for _, t, e in obs if e == 1}):
        d1 = sum(1 for g, tt, e in obs if tt == t and e and g == 1)
        d = sum(1 for _, tt, e in obs if tt == t and e)
        n1 = sum(1 for g, tt, _ in obs if tt >= t and g == 1)
        n0 = sum(1 for g, tt, _ in obs if tt >= t and g == 0)
        u0 += d1 - d * n1 / (n1 + n0)
        i0 += d * n1 * n0 / ((n1 + n0) * (n1 + n0))
    assert abs(u0 - (lr.obs_events_g1 - lr.exp_events_g1)) < 1e-4
    assert abs(i0 - lr.var_logrank) < 1e-4  # tieless: FPC term is 1
    assert abs(u0) > 0.5  # the plant separates the groups
    # (2) the fitted beta maximizes the test's own likelihood
    b = cox.log_hazard_ratio
    assert loglik(b) >= loglik(b + 0.01) - 1e-12
    assert loglik(b) >= loglik(b - 0.01) - 1e-12
    # (3) convergence witness + direction + internal consistency
    assert abs(cox.score_final) < 1e-3
    assert cox.hazard_ratio > 1.0  # signup converts faster
    assert (
        abs(cox.hazard_ratio - math.floor(math.exp(b) * 1e6 + 0.5) / 1e6)
        < 1e-9
    )
    assert cox.z_score > 0 and cox.se_log_hr > 0
    assert cox.n_days == len({t for _, t, _ in obs})


def test_msprt_planted_crossing_day(spark, tmp_path):
    """diag_msprt_sequential on a planted experiment: variants identical
    through day 3, then treated jumps +$80 — the always-valid log Λ must
    stay under the α = 0.05 boundary pre-shift, cross at the exact day
    the raw-Python replay of the identical float sequence crosses, and
    first_crossing_day must pin that day on every row. The streaming
    flavor must reproduce the batch readout row-for-row from its
    incrementally-folded gold."""
    import datetime as dt
    import math

    from databricks_etl_pipelines_spark.catalog import QUERIES, load_all
    from databricks_etl_pipelines_spark.plans.queries_stats import (
        _MSPRT_LOG_THRESH,
        _MSPRT_TAU2,
    )

    load_all()
    rows, eid = [], 0
    days = list(range(8))
    per_day = {}  # day -> [(variant, cents), ...]
    for d in days:
        evs = []
        for m in range(4):
            base = 9000 if m % 2 == 0 else 11000  # $90 / $110 spread
            lift = 8000 if d >= 4 else 0
            evs.append(("A", base))
            evs.append(("B", base + lift))
        per_day[d] = evs
        for i, (variant, cents) in enumerate(evs):
            uid = 2 * i + (0 if variant == "A" else 1)
            rows.append(
                (eid, dt.datetime(2024, 1, 1 + d, 9, 0, 0), uid, "view",
                 cents / 100.0, "{}")
            )
            eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")
    got = {
        r.day: r
        for r in QUERIES["diag_msprt_sequential"](
            spark, str(tmp_path)
        ).collect()
    }

    # raw-Python replay of the running statistics + mSPRT sequence
    q6 = lambda v: math.floor(v * 1e6 + 0.5) / 1e6  # noqa: E731
    na = nb = sxa = sxb = sxxa = sxxb = 0
    first_cross = None
    for d in days:
        for variant, cents in per_day[d]:
            if variant == "A":
                na, sxa, sxxa = na + 1, sxa + cents, sxxa + cents * cents
            else:
                nb, sxb, sxxb = nb + 1, sxb + cents, sxxb + cents * cents
        delta = sxb / nb - sxa / na
        vk = (
            ((sxxa - sxa * sxa / na) + (sxxb - sxb * sxb / nb))
            / (na + nb - 2)
            * (1.0 / na + 1.0 / nb)
        )
        day = f"2024-01-{1 + d:02d}"
        r = got[day]
        if vk == 0:
            assert r.log_lambda is None, day
            assert r.crossed == 0, day
            continue
        logl = q6(
            0.5 * math.log(vk / (vk + _MSPRT_TAU2))
            + delta * delta * _MSPRT_TAU2
            / (2.0 * vk * (vk + _MSPRT_TAU2))
        )
        assert abs(r.log_lambda - logl) <= 1e-6, (day, r.log_lambda, logl)
        crossed = 1 if logl >= _MSPRT_LOG_THRESH else 0
        assert r.crossed == crossed, day
        if crossed and first_cross is None:
            first_cross = day
    # identical variants pre-shift: no crossing before day 4
    for d in range(4):
        assert got[f"2024-01-{1 + d:02d}"].crossed == 0
    # the shift must actually cross, at the replayed day, pinned on
    # every output row
    assert first_cross is not None and first_cross >= "2024-01-05"
    for r in got.values():
        assert r.first_crossing_day == first_cross

    # streaming flavor == batch, row-for-row
    streamed = {
        r.day: r
        for r in QUERIES["streaming_msprt_sequential"](
            spark, str(tmp_path)
        ).collect()
    }
    assert set(streamed) == set(got)
    for day, r in got.items():
        s = streamed[day]
        assert (
            s.n_control, s.n_treated, s.diff_cents, s.log_lambda,
            s.crossed, s.first_crossing_day,
        ) == (
            r.n_control, r.n_treated, r.diff_cents, r.log_lambda,
            r.crossed, r.first_crossing_day,
        ), day


def test_confidence_sequence_planted(spark, tmp_path):
    """diag_confidence_sequence on the mSPRT +$80 plant: (a) the
    anytime-valid CI contains Δ̂ on every defined day; (b) it excludes
    0 exactly from the mSPRT crossing day (the CS is the martingale's
    inversion — shared pre-rounded literals make the verdicts
    coincide), with the radius replayed raw-Python day by day; (c) the
    projection off an incrementally-folded experiment-suite gold
    (non-chronological event_id%3 feed) equals the batch readout
    row-for-row."""
    import datetime as dt
    import math

    from databricks_etl_pipelines_spark.catalog import QUERIES, load_all
    from databricks_etl_pipelines_spark.plans.queries_stats import (
        _CS_TWO_LN_INV_ALPHA,
        _MSPRT_TAU2,
        _cs_project,
        _msprt_partial,
    )
    from databricks_etl_pipelines_spark.sources.managed_table import (
        ManagedTable,
    )
    from databricks_etl_pipelines_spark.streaming.structured import (
        await_drained,
        incremental_aggregate,
    )

    load_all()
    rows, eid = [], 0
    days = list(range(8))
    per_day = {}
    for d in days:
        evs = []
        for m in range(4):
            base = 9000 if m % 2 == 0 else 11000
            lift = 8000 if d >= 4 else 0
            evs.append(("A", base))
            evs.append(("B", base + lift))
        per_day[d] = evs
        for i, (variant, cents) in enumerate(evs):
            uid = 2 * i + (0 if variant == "A" else 1)
            rows.append(
                (eid, dt.datetime(2024, 1, 1 + d, 9, 0, 0), uid, "view",
                 cents / 100.0, "{}")
            )
            eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    df.write.parquet(f"{tmp_path}/events.parquet")
    got = {
        r.day: r
        for r in QUERIES["diag_confidence_sequence"](
            spark, str(tmp_path)
        ).collect()
    }
    msprt = {
        r.day: r
        for r in QUERIES["diag_msprt_sequential"](
            spark, str(tmp_path)
        ).collect()
    }

    # raw-Python replay of the radius + (a)/(b) per day
    q6 = lambda v: math.floor(v * 1e6 + 0.5) / 1e6  # noqa: E731
    na = nb = sxa = sxb = sxxa = sxxb = 0
    first_excl = None
    for d in days:
        for variant, cents in per_day[d]:
            if variant == "A":
                na, sxa, sxxa = na + 1, sxa + cents, sxxa + cents * cents
            else:
                nb, sxb, sxxb = nb + 1, sxb + cents, sxxb + cents * cents
        delta = sxb / nb - sxa / na
        vk = (
            ((sxxa - sxa * sxa / na) + (sxxb - sxb * sxb / nb))
            / (na + nb - 2)
            * (1.0 / na + 1.0 / nb)
        )
        day = f"2024-01-{1 + d:02d}"
        r = got[day]
        if vk <= 0:
            assert r.ci_lo_cents is None and r.ci_hi_cents is None, day
            assert r.excludes_zero == 0, day
            continue
        rad = math.sqrt(
            vk * (vk + _MSPRT_TAU2) / _MSPRT_TAU2
            * (_CS_TWO_LN_INV_ALPHA
               + math.log((vk + _MSPRT_TAU2) / vk))
        )
        assert abs(r.ci_lo_cents - q6(delta - rad)) <= 1e-6, day
        assert abs(r.ci_hi_cents - q6(delta + rad)) <= 1e-6, day
        # (a) the CI contains the point estimate
        assert r.ci_lo_cents <= r.diff_cents <= r.ci_hi_cents, day
        if r.excludes_zero and first_excl is None:
            first_excl = day
    # (b) verdict == mSPRT crossing, day by day and in the pinned day
    for day, r in got.items():
        assert r.excludes_zero == msprt[day].crossed, day
        assert r.first_excluding_day == msprt[day].first_crossing_day
    assert first_excl is not None and first_excl >= "2024-01-05"
    # identical variants pre-shift: CI must cover 0
    for d in range(4):
        day = f"2024-01-{1 + d:02d}"
        r = got[day]
        if r.ci_lo_cents is not None:
            assert r.ci_lo_cents <= 0 <= r.ci_hi_cents, day

    # (c) streamed == batch off the experiment-suite gold
    ev = df.select("event_id", "ts", "user_id", "value")
    feed = tmp_path / "feed"
    for b in range(3):
        ev.filter(F.col("event_id") % 3 == b).coalesce(1).write.mode(
            "append"
        ).parquet(str(feed))
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(feed))
    )
    gold = ManagedTable(str(tmp_path / "cs_gold"))
    q = incremental_aggregate(
        stream,
        gold,
        ["day", "variant"],
        _msprt_partial,
        str(tmp_path / "cs_ckpt"),
    )
    await_drained(q, 300)
    streamed = {r.day: r for r in _cs_project(gold.read(spark)).collect()}
    assert set(streamed) == set(got)
    for day, r in got.items():
        s = streamed[day]
        assert (
            s.n_control, s.n_treated, s.diff_cents, s.ci_lo_cents,
            s.ci_hi_cents, s.excludes_zero, s.first_excluding_day,
        ) == (
            r.n_control, r.n_treated, r.diff_cents, r.ci_lo_cents,
            r.ci_hi_cents, r.excludes_zero, r.first_excluding_day,
        ), day


def test_cox_ph_assumption_planted_crossing_hazards(spark, tmp_path):
    """diag_cox_ph_assumption on a planted CROSSING-hazards funnel —
    signup converts much faster in the early half of the event lattice,
    view much faster in the late half, with symmetric totals so the
    POOLED hazard ratio reads ≈ 1 while the assumption is grossly
    violated. Checks: the event-median split point replayed from raw
    counts; each half's β̂ maximizes the test's OWN half-restricted
    Breslow partial likelihood (grid ±0.01, full risk sets — the
    likelihood factorizes over event days); the difference z matches
    the returned se's; the flag fires while the pooled Cox stays quiet;
    and the DuckDB oracle replays the identical row."""
    import datetime as dt
    import math

    import duckdb

    from databricks_etl_pipelines_spark.catalog import (
        ORACLES,
        QUERIES,
        load_all,
    )

    load_all()
    # 20 signup-first + 20 view-first users, all enrolled day 0.
    # Early events (t <= 3): S at t=1 x4, t=2 x4, t=3 x4; V at t=2 x2,
    # t=3 x1. Late (t > 3): V at t=8 x4, t=9 x4, t=10 x4; S at t=9 x2,
    # t=10 x1. 5 of each censored at t=12. Both halves INTERLEAVE the
    # group schedules (a separated half has a monotone likelihood and
    # an infinite MLE — the r13 trap).
    s_events = [1] * 4 + [2] * 4 + [3] * 4 + [9] * 2 + [10]
    v_events = [2] * 2 + [3] + [8] * 4 + [9] * 4 + [10] * 4
    planted = {}
    uid = 0
    for g, evs in (("signup", s_events), ("view", v_events)):
        for t in evs:
            uid += 1
            planted[uid] = [(0, g), (t, "purchase")]
        for _ in range(5):  # censored at end of observation
            uid += 1
            planted[uid] = [(0, g), (12, "click")]
    rows, k = [], 0
    for u, evs in planted.items():
        for day, et in evs:
            rows.append(
                (k, dt.datetime(2024, 1, 1 + day, 8, 0, 0), u, et, 1.0,
                 "{}")
            )
            k += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")
    got = QUERIES["diag_cox_ph_assumption"](
        spark, str(tmp_path)
    ).collect()
    assert len(got) == 1
    r = got[0]

    # (1) the split point: 30 events total, event-median day = min t
    # with cum events >= 15 — t=1:4, t=2:10, t=3:15 -> t_split = 3
    assert r.t_split == 3
    assert (r.events_early, r.events_late) == (15, 15)

    # (2) independent half-restricted likelihood maximization
    obs = []  # (group 1=signup, t, e)
    for u, evs in planted.items():
        g = 1 if evs[0][1] == "signup" else 0
        tp = min((d for d, e in evs if e == "purchase"), default=None)
        tmax = max(d for d, _ in evs)
        if tp is not None:
            obs.append((g, tp, 1))
        else:
            obs.append((g, tmax, 0))

    def loglik_half(beta, early):
        ll = 0.0
        for t in sorted({t for _, t, e in obs if e == 1}):
            if (t <= 3) != early:
                continue
            d1 = sum(1 for g, tt, e in obs if tt == t and e and g == 1)
            d = sum(1 for _, tt, e in obs if tt == t and e)
            n1 = sum(1 for g, tt, _ in obs if tt >= t and g == 1)
            n0 = sum(1 for g, tt, _ in obs if tt >= t and g == 0)
            ll += d1 * beta - d * math.log(n1 * math.exp(beta) + n0)
        return ll

    for b, early in ((r.beta_early, True), (r.beta_late, False)):
        assert loglik_half(b, early) >= loglik_half(b + 0.01, early) - 1e-12
        assert loglik_half(b, early) >= loglik_half(b - 0.01, early) - 1e-12

    # (3) direction + the violation fires while the pooled HR is quiet
    assert r.beta_early > 0.5 and r.beta_late < -0.5
    assert r.z_diff is not None and abs(r.z_diff) > 1.959964
    assert r.ph_flag == 1
    # z consistency with the returned SEs (both are q6 of the same raw
    # doubles, so the recomposition matches to lattice precision)
    z_re = (r.beta_early - r.beta_late) / math.sqrt(
        r.se_early**2 + r.se_late**2
    )
    assert abs(r.z_diff - z_re) < 1e-4
    pooled = QUERIES["diag_cox_hazard_ratio"](
        spark, str(tmp_path)
    ).collect()[0]
    # the pooled readout stays QUIET (the early excess gets slightly
    # more likelihood weight than the late deficit — full risk sets —
    # so β̂ is not exactly 0, but the z never approaches the critical)
    assert abs(pooled.z_score) < 1.959964
    assert abs(pooled.log_hazard_ratio) < min(
        abs(r.beta_early), abs(r.beta_late)
    )

    # (4) the oracle replays the identical row
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{tmp_path}/events.parquet/*.parquet')"
    )
    o = con.execute(ORACLES["diag_cox_ph_assumption"]).fetchall()
    assert len(o) == 1
    assert o[0] == (
        r.t_split, r.n_days_early, r.n_days_late, r.events_early,
        r.events_late, r.beta_early, r.beta_late, r.hr_early, r.hr_late,
        r.se_early, r.se_late, r.z_diff, r.ph_flag,
    )


def test_cox_ph_assumption_proportional_plant_stays_quiet(spark, tmp_path):
    """The complement plant: a genuinely PROPORTIONAL effect (signup
    uniformly faster in both halves) must NOT fire the PH flag — the
    check is a violation detector, not a difference detector. Also pins
    the degenerate no-cohort convention against the oracle."""
    import datetime as dt

    import duckdb

    from databricks_etl_pipelines_spark.catalog import (
        ORACLES,
        QUERIES,
        load_all,
    )

    load_all()
    # signup converts ~2x faster THROUGHOUT: same shape early and late
    s_events = [1] * 3 + [2] * 3 + [3] * 2 + [8] * 3 + [9] * 3 + [10] * 2
    v_events = [1, 2, 3, 3] + [8, 9, 10, 10]
    planted, uid = {}, 0
    for g, evs in (("signup", s_events), ("view", v_events)):
        for t in evs:
            uid += 1
            planted[uid] = [(0, g), (t, "purchase")]
        for _ in range(4):
            uid += 1
            planted[uid] = [(0, g), (12, "click")]
    rows, k = [], 0
    for u, evs in planted.items():
        for day, et in evs:
            rows.append(
                (k, dt.datetime(2024, 1, 1 + day, 8, 0, 0), u, et, 1.0,
                 "{}")
            )
            k += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")
    r = QUERIES["diag_cox_ph_assumption"](spark, str(tmp_path)).collect()[0]
    assert r.beta_early > 0 and r.beta_late > 0  # same direction
    assert r.ph_flag == 0

    # degenerate corpus: no signup/view-first users at all
    import shutil

    shutil.rmtree(f"{tmp_path}/events.parquet")
    spark.createDataFrame(
        [(0, dt.datetime(2024, 1, 1), 1, "purchase", 1.0, "{}")],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")
    d = QUERIES["diag_cox_ph_assumption"](spark, str(tmp_path)).collect()[0]
    assert d.t_split is None
    assert (d.n_days_early, d.n_days_late) == (0, 0)
    assert (d.beta_early, d.beta_late) == (0.0, 0.0)
    assert (d.hr_early, d.hr_late) == (1.0, 1.0)
    assert d.se_early is None and d.z_diff is None and d.ph_flag is None
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{tmp_path}/events.parquet/*.parquet')"
    )
    o = con.execute(ORACLES["diag_cox_ph_assumption"]).fetchall()
    assert len(o) == 1
    assert o[0] == (
        d.t_split, d.n_days_early, d.n_days_late, d.events_early,
        d.events_late, d.beta_early, d.beta_late, d.hr_early, d.hr_late,
        d.se_early, d.se_late, d.z_diff, d.ph_flag,
    )


def test_srm_multiarm_planted_broken_arm(spark, tmp_path):
    """diag_srm_multiarm on a plant with one balanced enrollment day
    (5/5/5/5) and one where arm0 over-enrolls (20/5/5/5): the broken
    day's k-cell χ² = (4·475 − 35²)/35 = 675/35 fires the df=3 flag,
    the balanced day reads exactly 0, and the pooled statistic matches
    the exact integer arithmetic. A 2-variant check on the SAME plant
    (parity = arm mod 2) would see 25 even vs 10 odd — this test also
    pins that the k-cell statistic localizes the break to ONE arm's
    count columns."""
    import datetime as dt
    import math

    from databricks_etl_pipelines_spark.catalog import QUERIES, load_all

    load_all()
    rows, eid, base = [], 0, 0

    def enroll(day, counts):
        nonlocal eid, base
        for arm, n in enumerate(counts):
            for _ in range(n):
                base += 4  # fresh user id stride, residue = arm
                rows.append(
                    (eid, dt.datetime(2024, 1, day, 9), base + arm,
                     "view", 1.0, "{}")
                )
                eid += 1

    enroll(1, (5, 5, 5, 5))    # balanced
    enroll(2, (20, 5, 5, 5))   # arm0 broken
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")
    got = {
        r.enroll_day: r
        for r in QUERIES["diag_srm_multiarm"](
            spark, str(tmp_path)
        ).collect()
    }
    q6 = lambda v: math.floor(v * 1e6 + 0.5) / 1e6  # noqa: E731
    ok = got["2024-01-01"]
    assert (ok.n_arm0, ok.n_arm1, ok.n_arm2, ok.n_arm3) == (5, 5, 5, 5)
    assert ok.srm_chi2 == 0.0 and ok.srm_flag == 0
    bad = got["2024-01-02"]
    assert (bad.n_arm0, bad.n_arm1, bad.n_arm2, bad.n_arm3) == (
        20, 5, 5, 5,
    )
    assert bad.srm_chi2 == q6((4 * (400 + 3 * 25) - 35 * 35) / 35)
    assert bad.srm_chi2 > 7.814728 and bad.srm_flag == 1
    # pooled: totals (25, 10, 10, 10), n = 55
    pooled = q6((4 * (625 + 3 * 100) - 55 * 55) / 55)
    for r in got.values():
        assert r.overall_chi2 == pooled


def test_msprt_multiarm_planted_single_broken_arm(spark, tmp_path):
    """diag_msprt_multiarm on a planted 4-arm experiment: all arms
    identical through day 3, then arm2 jumps +$80 — arm2's mixture
    martingale must cross the Bonferroni-adjusted boundary at exactly
    the day the raw-Python replay of the identical float sequence
    crosses, while arm1 and arm3 (true nulls) never cross and arm2's
    first_crossing_day is pinned on every arm2 row."""
    import datetime as dt
    import math

    from databricks_etl_pipelines_spark.catalog import QUERIES, load_all
    from databricks_etl_pipelines_spark.plans.queries_stats import (
        _MSPRT_MULTI_THRESH,
        _MSPRT_TAU2,
    )

    load_all()
    rows, eid = [], 0
    days = list(range(8))
    per_day = {}  # day -> [(arm, cents), ...]
    for d in days:
        evs = []
        for m in range(6):
            base = 9000 if m % 2 == 0 else 11000
            for arm in range(4):
                lift = 8000 if arm == 2 and d >= 4 else 0
                evs.append((arm, base + lift))
        per_day[d] = evs
        for i, (arm, cents) in enumerate(evs):
            uid = 4 * i + arm
            rows.append(
                (eid, dt.datetime(2024, 1, 1 + d, 9, 0, 0), uid, "view",
                 cents / 100.0, "{}")
            )
            eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")
    got = {
        (r.day, r.arm): r
        for r in QUERIES["diag_msprt_multiarm"](
            spark, str(tmp_path)
        ).collect()
    }
    assert len(got) == len(days) * 3

    q6 = lambda v: math.floor(v * 1e6 + 0.5) / 1e6  # noqa: E731
    cum = {a: [0, 0, 0] for a in range(4)}  # n, sx, sxx
    first_cross = {1: None, 2: None, 3: None}
    for d in days:
        for arm, cents in per_day[d]:
            c = cum[arm]
            c[0], c[1], c[2] = c[0] + 1, c[1] + cents, c[2] + cents * cents
        day = f"2024-01-{1 + d:02d}"
        na, sxa, sxxa = cum[0]
        for j in (1, 2, 3):
            nb, sxb, sxxb = cum[j]
            delta = sxb / nb - sxa / na
            vk = (
                ((sxxa - sxa * sxa / na) + (sxxb - sxb * sxb / nb))
                / (na + nb - 2)
                * (1.0 / na + 1.0 / nb)
            )
            r = got[(day, f"arm{j}")]
            assert (r.n_control, r.n_treated) == (na, nb), (day, j)
            assert r.diff_cents == q6(delta), (day, j)
            if vk <= 0:
                assert r.log_lambda is None and r.crossed == 0
                continue
            logl = q6(
                0.5 * math.log(vk / (vk + _MSPRT_TAU2))
                + delta * delta * _MSPRT_TAU2
                / (2.0 * vk * (vk + _MSPRT_TAU2))
            )
            assert abs(r.log_lambda - logl) <= 1e-6, (day, j)
            crossed = 1 if logl >= _MSPRT_MULTI_THRESH else 0
            assert r.crossed == crossed, (day, j)
            if crossed and first_cross[j] is None:
                first_cross[j] = day
    # the true-null arms never cross; the shifted arm crosses post-shift
    assert first_cross[1] is None and first_cross[3] is None
    assert first_cross[2] is not None and first_cross[2] >= "2024-01-05"
    for (day, arm), r in got.items():
        want = first_cross[int(arm[-1])]
        assert r.first_crossing_day == want, (day, arm)


def test_obrien_fleming_planted_shift(spark, tmp_path):
    """diag_obrien_fleming on the planted +$80 day-4 shift (the mSPRT
    plant): the raw-Python replay of the identical z / boundary float
    sequences must match row-for-row, the boundary must decay
    monotonically to the pinned continuous-monitoring constant C at
    full information, no look may cross pre-shift, and the crossing —
    if any — happens at the replayed day. Being the FIXED-HORIZON
    sibling, its per-look z is the plain two-sample z, so the late
    looks after a real shift must exceed the final-look boundary."""
    import datetime as dt
    import math

    from databricks_etl_pipelines_spark.catalog import QUERIES, load_all
    from databricks_etl_pipelines_spark.plans.queries_stats import _OBF_CB

    load_all()
    rows, eid = [], 0
    days = list(range(8))
    per_day = {}
    for d in days:
        evs = []
        for m in range(4):
            base = 9000 if m % 2 == 0 else 11000
            lift = 8000 if d >= 4 else 0
            evs.append(("A", base))
            evs.append(("B", base + lift))
        per_day[d] = evs
        for i, (variant, cents) in enumerate(evs):
            uid = 2 * i + (0 if variant == "A" else 1)
            rows.append(
                (eid, dt.datetime(2024, 1, 1 + d, 9, 0, 0), uid, "view",
                 cents / 100.0, "{}")
            )
            eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")
    got = {
        r.day: r
        for r in QUERIES["diag_obrien_fleming"](
            spark, str(tmp_path)
        ).collect()
    }

    q6 = lambda v: math.floor(v * 1e6 + 0.5) / 1e6  # noqa: E731
    na = nb = sxa = sxb = sxxa = sxxb = 0
    ntot = sum(len(per_day[d]) for d in days)
    cum_n = 0
    first_cross, prev_boundary = None, None
    for d in days:
        for variant, cents in per_day[d]:
            if variant == "A":
                na, sxa, sxxa = na + 1, sxa + cents, sxxa + cents * cents
            else:
                nb, sxb, sxxb = nb + 1, sxb + cents, sxxb + cents * cents
        cum_n = na + nb
        day = f"2024-01-{1 + d:02d}"
        r = got[day]
        assert (r.n_control, r.n_treated) == (na, nb), day
        assert r.info_frac == q6(cum_n / ntot), day
        boundary = q6(_OBF_CB / math.sqrt(cum_n / ntot))
        assert r.boundary == boundary, day
        if prev_boundary is not None:
            assert boundary < prev_boundary, day  # strictly decaying
        prev_boundary = boundary
        delta = sxb / nb - sxa / na
        vk = (
            ((sxxa - sxa * sxa / na) + (sxxb - sxb * sxb / nb))
            / (na + nb - 2)
            * (1.0 / na + 1.0 / nb)
        )
        if vk <= 0:
            assert r.z_stat is None and r.crossed == 0, day
            continue
        z = q6(delta / math.sqrt(vk))
        assert r.z_stat == z, (day, r.z_stat, z)
        crossed = 1 if abs(z) >= boundary else 0
        assert r.crossed == crossed, day
        if crossed and first_cross is None:
            first_cross = day
    # full information: boundary IS the pinned constant
    assert got["2024-01-08"].boundary == _OBF_CB
    # identical variants pre-shift: no early spend
    for d in range(4):
        assert got[f"2024-01-{1 + d:02d}"].crossed == 0
    # the $80 shift must cross by the final look, pinned on every row
    assert first_cross is not None and first_cross >= "2024-01-05"
    for r in got.values():
        assert r.first_crossing_day == first_cross


def test_cuped_stratified_planted_heterogeneous_slopes(spark, tmp_path):
    """diag_cuped_stratified on a plant with OPPOSITE X→Y slopes per
    pre-period band (low band: y ≈ 2x + noise; high band: y ≈ −x +
    noise): the per-stratum θs must match the raw-Python replay of the
    exact-sums float sequence and carry opposite signs, each stratum's
    CUPED variance must shrink vs its raw variance, while ONE pooled θ
    (diag_cuped_adjustment on the same corpus) fits neither segment —
    the heterogeneity that post-stratification exists for."""
    import datetime as dt
    import math

    from databricks_etl_pipelines_spark.catalog import QUERIES, load_all
    from databricks_etl_pipelines_spark.plans.queries_stats import (
        _CUPED_BAND_CENTS,
    )

    load_all()
    # per-user (x, y) pairs in cents; band cut at _CUPED_BAND_CENTS.
    # x below/above the cut; y correlated with x per band, opposite
    # slopes; small deterministic "noise" so variances are nonzero.
    users = []
    uid = 0
    for i in range(12):  # low band: y = 2x + jitter
        x = 100000 + 4000 * i  # < 160000 for i <= 14
        y = 2 * x + 1500 * (i % 3)
        users.append((uid, x, y))
        uid += 1
    for i in range(12):  # high band: y = -x + big offset + jitter
        x = 200000 + 4000 * i
        y = 700000 - x + 1500 * (i % 3)
        users.append((uid, x, y))
        uid += 1
    rows, eid = [], 0
    for u, x, y in users:
        rows.append(
            (eid, dt.datetime(2024, 1, 10, 9), u, "view", x / 100.0, "{}")
        )
        eid += 1
        rows.append(
            (eid, dt.datetime(2024, 1, 20, 9), u, "view", y / 100.0, "{}")
        )
        eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")
    got = {
        (r.band, r.variant): r
        for r in QUERIES["diag_cuped_stratified"](
            spark, str(tmp_path)
        ).collect()
    }
    assert set(got) == {("low", "A"), ("low", "B"), ("high", "A"),
                        ("high", "B")}

    # raw-Python replay of theta per band from exact sums
    q6 = lambda v: math.floor(v * 1e6 + 0.5) / 1e6  # noqa: E731
    thetas = {}
    for band in ("low", "high"):
        sub = [
            (x, y) for _, x, y in users
            if (x < _CUPED_BAND_CENTS) == (band == "low")
        ]
        n = len(sub)
        sx = sum(x for x, _ in sub)
        sy = sum(y for _, y in sub)
        sxx = sum(x * x for x, _ in sub)
        sxy = sum(x * y for x, y in sub)
        thetas[band] = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    for (band, _v), r in got.items():
        assert r.theta == q6(thetas[band]), (band, r.theta, thetas[band])
    assert thetas["low"] > 1.5 and thetas["high"] < -0.5  # opposite
    # within each stratum the adjustment must genuinely cut variance
    for k, r in got.items():
        assert r.var_cuped < 0.2 * r.var_metric, k
    # ONE pooled theta cannot carry the high band's NEGATIVE slope —
    # between-band structure pulls it positive (toward the low band),
    # so the pooled adjustment is wrong-SIGNED for the whole high
    # segment (the heterogeneity post-stratification exists for)
    pooled = QUERIES["diag_cuped_adjustment"](
        spark, str(tmp_path)
    ).collect()[0]
    assert pooled.theta > 0 > thetas["high"]
    assert abs(pooled.theta - thetas["high"]) > 0.5


def test_streaming_msprt_multiarm_matches_batch(spark, tmp_path):
    """streaming_msprt_multiarm must reproduce the batch k-arm readout
    row-for-row from its incrementally-folded per-(day, arm) gold on
    the planted single-broken-arm corpus (non-chronological event_id%3
    feed — additive partials survive any split)."""
    import datetime as dt

    from databricks_etl_pipelines_spark.catalog import QUERIES, load_all

    load_all()
    rows, eid = [], 0
    for d in range(6):
        i = 0
        for m in range(4):
            base = 9000 if m % 2 == 0 else 11000
            for arm in range(4):
                lift = 8000 if arm == 2 and d >= 3 else 0
                uid = 4 * i + arm
                rows.append(
                    (eid, dt.datetime(2024, 1, 1 + d, 9, 0, 0), uid,
                     "view", (base + lift) / 100.0, "{}")
                )
                eid += 1
                i += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")
    batch = {
        (r.day, r.arm): r
        for r in QUERIES["diag_msprt_multiarm"](
            spark, str(tmp_path)
        ).collect()
    }
    streamed = {
        (r.day, r.arm): r
        for r in QUERIES["streaming_msprt_multiarm"](
            spark, str(tmp_path)
        ).collect()
    }
    assert set(streamed) == set(batch) and len(batch) == 18
    for k, r in batch.items():
        s = streamed[k]
        assert (
            s.n_control, s.n_treated, s.diff_cents, s.log_lambda,
            s.crossed, s.first_crossing_day,
        ) == (
            r.n_control, r.n_treated, r.diff_cents, r.log_lambda,
            r.crossed, r.first_crossing_day,
        ), k


def test_km_median_ci_planted_replay(spark, tmp_path):
    """diag_km_median_ci vs a raw-Python replay of the KM fold, the
    q6-lattice median rule, the 1e-9-quantized Greenwood cumsum and the
    Brookmeyer-Crowley membership test on a planted signup funnel with
    events, ties and censoring; plus the two degenerate conventions (a
    cohort whose curve never reaches 1/2 → NULL median; terminal n=d
    rows contribute 0 to the Greenwood sum)."""
    import datetime as dt
    import math

    from databricks_etl_pipelines_spark.catalog import QUERIES, load_all

    load_all()
    # signup cohort: 10 users — purchases at days 1, 1, 2, 3, 5, 5, 8;
    # censored (error) at 4; censored (end of obs) at 6, 9.
    planted = {
        1: [(0, "signup"), (1, "purchase")],
        2: [(0, "signup"), (1, "purchase")],
        3: [(0, "signup"), (2, "purchase")],
        4: [(0, "signup"), (3, "purchase")],
        5: [(0, "signup"), (5, "purchase")],
        6: [(0, "signup"), (5, "purchase")],
        7: [(0, "signup"), (8, "purchase")],
        8: [(0, "signup"), (4, "error")],
        9: [(0, "signup"), (6, "click")],
        10: [(0, "signup"), (9, "click")],
        # a 3-user view cohort that never converts: NULL median
        11: [(0, "view"), (7, "click")],
        12: [(0, "view"), (7, "click")],
        13: [(0, "view"), (8, "click")],
    }
    rows, k = [], 0
    for uid, evs in planted.items():
        for day, et in evs:
            rows.append(
                (k, dt.datetime(2024, 1, 1 + day, 8, 0, 0), uid, et, 1.0,
                 "{}")
            )
            k += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")
    got = {
        r.cohort: r
        for r in QUERIES["diag_km_median_ci"](
            spark, str(tmp_path)
        ).collect()
    }

    # raw replay for the signup cohort
    obs = []  # (t, event?)
    for uid, evs in planted.items():
        if evs[0][1] != "signup":
            continue
        tp = min((d for d, e in evs if e == "purchase"), default=None)
        te = min((d for d, e in evs if e == "error"), default=None)
        tmax = max(d for d, _ in evs)
        tc = te if te is not None else tmax
        obs.append((tp, 1) if tp is not None and tp <= tc else (tc, 0))
    n_at = len(obs)
    s, gw_q = 1.0, 0
    med = s_med_q = se_med = None
    ci = []
    for t in sorted({t for t, _ in obs}):
        d = sum(1 for tt, e in obs if tt == t and e)
        c = sum(1 for tt, e in obs if tt == t and not e)
        # the ENGINE folds s * ((n-d)/n) — ratio divided first; the
        # other association s*(n-d)/n differs in the last ulp and can
        # flip a q6 floor at an x.5 boundary
        s = s * ((n_at - d) / n_at)
        sq = math.floor(s * 1e6 + 0.5)
        if n_at - d > 0:
            gw_q += math.floor(d / (n_at * (n_at - d)) * 1e9 + 0.5)
        # terminal n==d pins the term to 0
        se_t = sq / 1e6 * math.sqrt(gw_q / 1e9)
        if med is None and sq <= 500000:
            med, s_med_q, se_med = t, sq, se_t
        if abs(sq / 1e6 - 0.5) <= 1.959964 * se_t:
            ci.append(t)
        n_at -= d + c
    r = got["signup"]
    assert (r.n_users, r.n_events) == (10, 7)
    assert r.median_day == med
    assert r.s_at_median == s_med_q / 1e6
    assert r.greenwood_se == math.floor(se_med * 1e6 + 0.5) / 1e6
    assert r.ci_low_day == min(ci) and r.ci_high_day == max(ci)
    assert r.ci_low_day <= r.median_day <= r.ci_high_day
    # the never-converting cohort: honest NULLs
    v = got["view"]
    assert v.n_events == 0
    assert v.median_day is None and v.greenwood_se is None
    assert v.ci_low_day is None and v.ci_high_day is None


def test_power_mde_planted_replay(spark, tmp_path):
    """diag_power_mde vs a raw-Python replay of the pooled-SD / SE /
    MDE float sequence on a planted two-variant corpus, plus the
    design-gate semantics: quadrupling the users halves the SE and the
    MDE (the reason the row exists)."""
    import datetime as dt
    import math

    from databricks_etl_pipelines_spark.catalog import QUERIES, load_all

    load_all()

    def write_corpus(path, rep):
        rows, eid, uid = [], 0, 0
        vals = []
        for r_ in range(rep):
            for i in range(8):
                uid += 2
                ya = 10000 + 1000 * i  # control user totals
                yb = 12000 + 1500 * i  # treated user totals
                rows.append(
                    (eid, dt.datetime(2024, 1, 5, 9), uid, "view",
                     ya / 100.0, "{}")
                )
                eid += 1
                rows.append(
                    (eid, dt.datetime(2024, 1, 5, 9), uid + 1, "view",
                     yb / 100.0, "{}")
                )
                eid += 1
                vals.append((ya, yb))
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long,"
            " event_type string, value double, props string",
        ).write.parquet(f"{path}/events.parquet")
        return vals

    import os

    os.makedirs(f"{tmp_path}/one")
    os.makedirs(f"{tmp_path}/four")
    vals = write_corpus(f"{tmp_path}/one", 1)
    write_corpus(f"{tmp_path}/four", 4)
    r1 = QUERIES["diag_power_mde"](spark, f"{tmp_path}/one").collect()[0]
    r4 = QUERIES["diag_power_mde"](spark, f"{tmp_path}/four").collect()[0]

    # raw replay of the float sequence
    q6 = lambda v: math.floor(v * 1e6 + 0.5) / 1e6  # noqa: E731
    ya = [a for a, _ in vals]
    yb = [b for _, b in vals]
    na, nb = len(ya), len(yb)
    ssqa = sum(v * v for v in ya) - sum(ya) * sum(ya) / na
    ssqb = sum(v * v for v in yb) - sum(yb) * sum(yb) / nb
    sd = math.sqrt((ssqa + ssqb) / (na + nb - 2))
    se = sd * math.sqrt(1.0 / na + 1.0 / nb)
    mde = (1.959964 + 0.841621) * se
    assert (r1.n_control, r1.n_treated) == (na, nb)
    assert r1.sd_pooled == q6(sd)
    assert r1.se_diff == q6(se)
    assert r1.mde_cents == q6(mde)
    assert r1.mde_rel_control == q6(mde / (sum(ya) / na))
    # 4x users: the exact sums scale x4, so the pooled-SD ratio is
    # exactly sqrt(4(n-2)/(4n-2)) (the n-2 correction matters at this
    # small n) and the MDE halves on top of it (sampling theory)
    assert (r4.n_control, r4.n_treated) == (4 * na, 4 * nb)
    n = na + nb
    sd_ratio = math.sqrt(4 * (n - 2) / (4 * n - 2))
    assert abs(r4.sd_pooled / r1.sd_pooled - sd_ratio) < 1e-6
    assert abs(r4.mde_cents / r1.mde_cents - 0.5 * sd_ratio) < 1e-6

    # degenerate: a CONSTANT metric has zero pooled variance — the
    # CASE guard (the mSPRT vk lesson: sqrt of a cancellation-negative
    # double hard-errors on DuckDB) pins sd/se/MDE to NULL on BOTH
    # engines instead of 0.0 (an MDE of zero would read as "infinitely
    # powered", the opposite of the truth)
    import duckdb

    from databricks_etl_pipelines_spark.catalog import ORACLES

    rows = []
    for uid in range(10):
        rows.append(
            (uid, dt.datetime(2024, 1, 5, 9), uid, "view", 50.0, "{}")
        )
    os.makedirs(f"{tmp_path}/const")
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(f"{tmp_path}/const/events.parquet")
    rc = QUERIES["diag_power_mde"](spark, f"{tmp_path}/const").collect()[0]
    assert rc.sd_pooled is None and rc.se_diff is None
    assert rc.mde_cents is None and rc.mde_rel_control is None
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{tmp_path}/const/events.parquet/*.parquet')"
    )
    o = con.execute(ORACLES["diag_power_mde"]).fetchall()
    assert len(o) == 1
    assert o[0] == (
        rc.n_control, rc.n_treated, rc.sd_pooled, rc.se_diff,
        rc.mde_cents, rc.mde_rel_control,
    )


def test_hte_by_band_planted_reversal(spark, tmp_path):
    """diag_hte_by_band on a planted sign-REVERSING effect (low band:
    treated +$50/user; high band: treated −$50/user): each band's lift
    and Welch-shape SE must match the raw-Python replay, the
    interaction z must fire, and the POOLED lift (the 2-variant DiD /
    mean readout view of the same corpus) must sit near zero — the
    blindness the interaction test exists for. Also pins the
    single-band degenerate (interaction NULL, flag NULL)."""
    import datetime as dt
    import math

    from databricks_etl_pipelines_spark.catalog import QUERIES, load_all
    from databricks_etl_pipelines_spark.plans.queries_stats import (
        _CUPED_BAND_CENTS,
    )

    load_all()
    # 16 users per (band, variant); y = base + lift + jitter, x places
    # the user in the band (pre-period), jitter keeps variances > 0
    users = []  # (uid, x, y)
    uid = 0
    for band, xbase, eff in (("low", 100000, 5000),
                             ("high", 200000, -5000)):
        for i in range(16):
            for parity, lift in ((0, 0), (1, eff)):
                uid += 2
                u = uid + parity
                y = 100000 + lift + 700 * (i % 5)
                users.append((u, xbase + 100 * i, y))
    rows, eid = [], 0
    for u, x, y in users:
        rows.append(
            (eid, dt.datetime(2024, 1, 10, 9), u, "view", x / 100.0,
             "{}")
        )
        eid += 1
        rows.append(
            (eid, dt.datetime(2024, 1, 20, 9), u, "view", y / 100.0,
             "{}")
        )
        eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")
    got = {
        r.band: r
        for r in QUERIES["diag_hte_by_band"](
            spark, str(tmp_path)
        ).collect()
    }
    assert set(got) == {"low", "high"}

    # raw replay per band
    q6 = lambda v: math.floor(v * 1e6 + 0.5) / 1e6  # noqa: E731
    stats = {}
    for band in ("low", "high"):
        ys = {
            "A": [y for u, x, y in users
                  if (x < _CUPED_BAND_CENTS) == (band == "low")
                  and u % 2 == 0],
            "B": [y for u, x, y in users
                  if (x < _CUPED_BAND_CENTS) == (band == "low")
                  and u % 2 == 1],
        }
        na, nb = len(ys["A"]), len(ys["B"])
        ma, mb = sum(ys["A"]) / na, sum(ys["B"]) / nb
        va = (sum(v * v for v in ys["A"]) - sum(ys["A"]) ** 2 / na) / (
            na - 1
        )
        vb = (sum(v * v for v in ys["B"]) - sum(ys["B"]) ** 2 / nb) / (
            nb - 1
        )
        stats[band] = (mb - ma, va / na + vb / nb)
        r = got[band]
        assert (r.n_control, r.n_treated) == (na, nb)
        assert abs(r.lift_cents - q6(mb - ma)) < 2e-6, band
        assert abs(r.se_lift - q6(math.sqrt(va / na + vb / nb))) < 2e-6
    z = (stats["low"][0] - stats["high"][0]) / math.sqrt(
        stats["low"][1] + stats["high"][1]
    )
    for r in got.values():
        assert abs(r.interaction_z - q6(z)) < 2e-6
        assert r.hte_flag == 1
    assert abs(z) > 1.959964
    # the pooled lift nets the two segments out (equal sizes, +-eff)
    pooled_lift = (
        got["low"].lift_cents * got["low"].n_treated
        + got["high"].lift_cents * got["high"].n_treated
    ) / (got["low"].n_treated + got["high"].n_treated)
    assert abs(pooled_lift) < 0.2 * abs(got["low"].lift_cents)

    # single-band degenerate: everyone low -> interaction/flag NULL
    import shutil

    shutil.rmtree(f"{tmp_path}/events.parquet")
    rows2 = []
    for eid2, (u, x, y) in enumerate(
        [(2 * i, 100000 + i, 100000 + 900 * (i % 4)) for i in range(12)]
    ):
        rows2.append(
            (2 * eid2, dt.datetime(2024, 1, 10, 9), u, "view",
             x / 100.0, "{}")
        )
        rows2.append(
            (2 * eid2 + 1, dt.datetime(2024, 1, 20, 9), u + 1, "view",
             y / 100.0, "{}")
        )
    spark.createDataFrame(
        rows2,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")
    one = QUERIES["diag_hte_by_band"](spark, str(tmp_path)).collect()
    assert {r.band for r in one} == {"low"}
    assert one[0].interaction_z is None and one[0].hte_flag is None


def test_streaming_experiment_suite_matches_standalones(spark, tmp_path):
    """streaming_experiment_suite must equal the two standalone
    monitors value-for-value (the drift-suite discipline): on the
    planted +$80 day-4 shift, every per-day row's mSPRT fields match
    diag_msprt_sequential and every OBF field matches
    diag_obrien_fleming, including both first-crossing days."""
    import datetime as dt

    from databricks_etl_pipelines_spark.catalog import QUERIES, load_all

    load_all()
    rows, eid = [], 0
    for d in range(8):
        for m in range(4):
            base = 9000 if m % 2 == 0 else 11000
            lift = 8000 if d >= 4 else 0
            for variant, cents in (("A", base), ("B", base + lift)):
                uid = 2 * (4 * m + d % 4) + (0 if variant == "A" else 1)
                rows.append(
                    (eid, dt.datetime(2024, 1, 1 + d, 9, 0, 0), uid,
                     "view", cents / 100.0, "{}")
                )
                eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")
    suite = {
        r.day: r
        for r in QUERIES["streaming_experiment_suite"](
            spark, str(tmp_path)
        ).collect()
    }
    msprt = {
        r.day: r
        for r in QUERIES["diag_msprt_sequential"](
            spark, str(tmp_path)
        ).collect()
    }
    obf = {
        r.day: r
        for r in QUERIES["diag_obrien_fleming"](
            spark, str(tmp_path)
        ).collect()
    }
    assert set(suite) == set(msprt) == set(obf)
    for day, s in suite.items():
        m, o = msprt[day], obf[day]
        assert (s.n_control, s.n_treated) == (m.n_control, m.n_treated)
        assert s.diff_cents == m.diff_cents, day
        assert s.log_lambda == m.log_lambda, day
        assert s.msprt_crossed == m.crossed, day
        assert s.first_crossing_msprt == m.first_crossing_day, day
        assert s.z_stat == o.z_stat, day
        assert s.boundary == o.boundary, day
        assert s.obf_crossed == o.crossed, day
        assert s.first_crossing_obf == o.first_crossing_day, day
    # the plant genuinely exercises both monitors
    assert any(s.msprt_crossed for s in suite.values())


def test_ratio_metric_delta_planted_replay(spark, tmp_path):
    """diag_ratio_metric_delta vs a raw-Python replay of the
    delta-method float sequence on a plant where per-user event counts
    VARY (the condition under which ratio-of-sums, mean-of-ratios and
    the per-event naive SE all disagree): the engine must equal the
    replay, the ratio must equal ΣY/ΣN (not the mean of per-user
    ratios — pinned numerically distinct on this plant), and a planted
    per-event lift must fire the difference flag."""
    import datetime as dt
    import math

    from databricks_etl_pipelines_spark.catalog import QUERIES, load_all

    load_all()
    # control users: (events, cents/event); heavy users earn LESS per
    # event, so mean-of-ratios > ratio-of-sums; treated: +100
    # cents/event (z ~ 3.5 against these delta SEs — a +20 lift only
    # reaches z ~ 0.7, swamped by the planted between-user spread)
    plan = {
        "A": [(1, 300), (2, 250), (5, 150), (8, 100), (4, 200),
              (1, 310), (2, 260), (5, 160), (8, 110), (4, 210)],
        "B": [(1, 400), (2, 350), (5, 250), (8, 200), (4, 300),
              (1, 410), (2, 360), (5, 260), (8, 210), (4, 310)],
    }
    rows, eid, uid = [], 0, 0
    per_user = {"A": [], "B": []}  # (n, y)
    for variant, users in plan.items():
        for n_ev, cents in users:
            uid += 2
            u = uid + (0 if variant == "A" else 1)
            for k in range(n_ev):
                rows.append(
                    (eid, dt.datetime(2024, 1, 3 + k, 9), u, "view",
                     cents / 100.0, "{}")
                )
                eid += 1
            per_user[variant].append((n_ev, n_ev * cents))
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")
    got = {
        r.variant: r
        for r in QUERIES["diag_ratio_metric_delta"](
            spark, str(tmp_path)
        ).collect()
    }

    q6 = lambda v: math.floor(v * 1e6 + 0.5) / 1e6  # noqa: E731
    rr = {}
    for variant, pus in per_user.items():
        u = len(pus)
        sn = sum(n for n, _ in pus)
        sy = sum(y for _, y in pus)
        r = sy / sn
        var_y = (sum(y * y for _, y in pus) - sy * sy / u) / (u - 1)
        var_n = (sum(n * n for n, _ in pus) - sn * sn / u) / (u - 1)
        cov = (sum(y * n for n, y in pus) - sy * sn / u) / (u - 1)
        nbar = sn / u
        rr[variant] = (var_y - 2 * r * cov + r * r * var_n) / (
            u * nbar * nbar
        )
        g = got[variant]
        assert (g.n_users, g.n_events, g.sum_cents) == (u, sn, sy)
        assert g.ratio_cents_per_event == q6(r), variant
        assert g.se_ratio == q6(math.sqrt(rr[variant])), variant
        # ratio-of-sums is NOT the mean of per-user ratios here
        mor = sum(y / n for n, y in pus) / u
        assert abs(mor - r) > 20  # cents apart by construction
    ra = sum(y for _, y in per_user["A"]) / sum(
        n for n, _ in per_user["A"]
    )
    rb = sum(y for _, y in per_user["B"]) / sum(
        n for n, _ in per_user["B"]
    )
    z = (rb - ra) / math.sqrt(rr["A"] + rr["B"])
    for g in got.values():
        assert g.diff_z == q6(z)
        assert g.diff_flag == (1 if abs(q6(z)) > 1.959964 else 0)
    # the planted +100 cents/event lift is large vs these SEs: it fires
    assert got["A"].diff_flag == 1 and z > 0


def test_variance_effect_planted_spread_change(spark, tmp_path):
    """diag_variance_effect on a plant where the treatment WIDENS the
    spread but leaves the mean and median flat: the Brown-Forsythe z
    (Welch on |y − group median|) replayed raw-Python must fire while
    the plain mean lift is exactly 0; identical distributions must
    read bf_z = 0 with no fire; and the per-variant medians must be
    the exact p50 order statistics."""
    import datetime as dt
    import math

    from databricks_etl_pipelines_spark.catalog import QUERIES, load_all

    load_all()
    q6 = lambda v: math.floor(v * 1e6 + 0.5) / 1e6  # noqa: E731

    def build(path, a_vals, b_vals):
        rows, eid, uid = [], 0, 0
        for variant, parity, vals in (("A", 0, a_vals), ("B", 1, b_vals)):
            for c in vals:
                uid += 2
                rows.append(
                    (eid, dt.datetime(2024, 1, 5, 9), uid + parity,
                     "view", c / 100.0, "{}")
                )
                eid += 1
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long,"
            " event_type string, value double, props string",
        ).write.parquet(f"{path}/events.parquet")

    def replay(a_vals, b_vals):
        def med(vals):
            s = sorted(vals)
            return s[(len(s) + 1) // 2 - 1]  # rank ceil(U/2), 1-based

        out = []
        for vals in (a_vals, b_vals):
            m = med(vals)
            d = [abs(v - m) for v in vals]
            n = len(d)
            sd, qd = sum(d), sum(x * x for x in d)
            out.append((m, sd, qd, n))
        (ma, sda, qda, na), (mb, sdb, qdb, nb) = out
        delta = sdb / nb - sda / na
        rad = ((qda - sda * sda / na) / (na - 1)) / na + (
            (qdb - sdb * sdb / nb) / (nb - 1)
        ) / nb
        z = q6(delta / math.sqrt(rad)) if rad > 0 else None
        return ma, mb, z

    # equal mean (5000) and median (5000), B spread 4x wider:
    # A = 5000 ± {0,100,200,300}, B = 5000 ± {0,400,800,1200}, repeated
    base_a = [5000, 4900, 5100, 4800, 5200, 4700, 5300, 5000]
    base_b = [5000, 4600, 5400, 4200, 5800, 3800, 6200, 5000]
    a_vals, b_vals = base_a * 10, base_b * 10
    assert sum(a_vals) == sum(b_vals)  # mean lift exactly 0
    build(tmp_path / "spread", a_vals, b_vals)
    r = QUERIES["diag_variance_effect"](
        spark, str(tmp_path / "spread")
    ).collect()[0]
    ma, mb, z = replay(a_vals, b_vals)
    assert (r.n_control, r.n_treated) == (80, 80)
    assert (r.median_control, r.median_treated) == (ma, mb) == (5000, 5000)
    assert abs(r.bf_z - z) <= 1e-6
    assert r.bf_z > 1.959964 and r.variance_flag == 1  # spread fires
    assert r.mad_treated > 2 * r.mad_control

    # identical distributions: z exactly 0, quiet
    build(tmp_path / "same", a_vals, a_vals)
    ri = QUERIES["diag_variance_effect"](
        spark, str(tmp_path / "same")
    ).collect()[0]
    assert ri.bf_z == 0.0 and ri.variance_flag == 0

    # constant corpus: zero deviations everywhere -> NULL z, NULL flag
    build(tmp_path / "const", [500] * 5, [500] * 5)
    rc = QUERIES["diag_variance_effect"](
        spark, str(tmp_path / "const")
    ).collect()[0]
    assert rc.bf_z is None and rc.variance_flag is None
    assert (rc.mad_control, rc.mad_treated) == (0.0, 0.0)


def test_rank_sum_test_planted_brute_force(spark, tmp_path):
    """diag_rank_sum_test vs the brute-force pairwise definition on a
    TIE-HEAVY plant: U, the tie-corrected variance and z replayed raw
    (every pair enumerated, ties counted ½); a +$30 shifted plant must
    fire with rank_biserial > 0; identical distributions must read
    U = n²/2, rank_biserial = 0, no fire; an ALL-TIED corpus (var = 0)
    must yield NULL z on both engines — the degenerate convention."""
    import datetime as dt
    import math

    import duckdb

    from databricks_etl_pipelines_spark.catalog import (
        ORACLES,
        QUERIES,
        load_all,
    )

    load_all()
    q6 = lambda v: math.floor(v * 1e6 + 0.5) / 1e6  # noqa: E731

    def build(path, a_vals, b_vals):
        rows, eid, uid = [], 0, 0
        for variant, parity, vals in (("A", 0, a_vals), ("B", 1, b_vals)):
            for c in vals:
                uid += 2
                rows.append(
                    (eid, dt.datetime(2024, 1, 5, 9), uid + parity,
                     "view", c / 100.0, "{}")
                )
                eid += 1
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long,"
            " event_type string, value double, props string",
        ).write.parquet(f"{path}/events.parquet")

    def brute(a_vals, b_vals):
        u2 = sum(
            2 if b > a else (1 if b == a else 0)
            for a in a_vals
            for b in b_vals
        )
        na, nb = len(a_vals), len(b_vals)
        n = na + nb
        ties = {}
        for v in list(a_vals) + list(b_vals):
            ties[v] = ties.get(v, 0) + 1
        tsum = sum(t ** 3 - t for t in ties.values())
        var_u = na * nb / 12.0 * ((n + 1) - tsum / (n * (n - 1)))
        z = (
            q6((u2 - na * nb) / (2.0 * math.sqrt(var_u)))
            if var_u > 0
            else None
        )
        return u2, var_u, z

    # tie-heavy plant: values drawn from a tiny lattice, asymmetric
    a_vals = [100, 100, 200, 200, 200, 300, 400, 400, 500, 600]
    b_vals = [100, 200, 300, 300, 400, 500, 500, 500, 600, 700]
    build(tmp_path / "ties", a_vals, b_vals)
    r = QUERIES["diag_rank_sum_test"](
        spark, str(tmp_path / "ties")
    ).collect()[0]
    u2, var_u, z = brute(a_vals, b_vals)
    assert (r.n_control, r.n_treated) == (10, 10)
    assert r.u_stat == u2 / 2.0
    assert abs(r.se_u - q6(math.sqrt(var_u))) <= 1e-6
    assert abs(r.z_stat - z) <= 1e-6
    assert abs(r.rank_biserial - q6(u2 / (10 * 10) - 1)) <= 1e-6
    # and the oracle replays the identical row
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"'{tmp_path}/ties/events.parquet/*.parquet'"
    )
    orc = con.execute(ORACLES["diag_rank_sum_test"]).fetchall()[0]
    assert orc == (
        r.n_control, r.n_treated, r.u_stat, r.rank_biserial, r.se_u,
        r.z_stat, r.reject_flag,
    )

    # +$30 shift: treated stochastically dominates -> fires, r > 0
    shift = [c + 3000 for c in a_vals]
    build(tmp_path / "shift", a_vals * 8, shift * 8)
    rs = QUERIES["diag_rank_sum_test"](
        spark, str(tmp_path / "shift")
    ).collect()[0]
    u2s, _, zs = brute(a_vals * 8, shift * 8)
    assert rs.z_stat == zs and rs.reject_flag == 1
    assert rs.rank_biserial > 0.9  # near-complete dominance

    # identical distributions: U = n^2/2 exactly, r = 0, quiet
    build(tmp_path / "same", a_vals, a_vals)
    ri = QUERIES["diag_rank_sum_test"](
        spark, str(tmp_path / "same")
    ).collect()[0]
    assert ri.u_stat == (10 * 10) / 2.0
    assert ri.rank_biserial == 0.0 and ri.reject_flag == 0

    # all-tied corpus: variance exactly 0 -> NULL z, NULL flag
    build(tmp_path / "const", [500] * 6, [500] * 6)
    rc = QUERIES["diag_rank_sum_test"](
        spark, str(tmp_path / "const")
    ).collect()[0]
    assert rc.z_stat is None and rc.se_u is None and rc.reject_flag is None
    assert rc.u_stat == 36 / 2.0  # all ties: U = n_a*n_b/2 still


def test_fdr_adjusted_planted_stepup_vs_bonferroni(spark, tmp_path):
    """diag_fdr_adjusted on a plant with THREE correlated moderate
    effects (treated +18 cents/event moves mean_spend, avg_txn_value
    and the ratio metric together, each z in the (rank-2, rank-1)
    critical window) among three exact nulls: Bonferroni rejects
    NOTHING (every |z| < 2.638257) while the BH step-up rejects all
    three — including the TOP-ranked metric that fails its own rank-1
    bar (the step-up property: rank 3 clears its lower bar, dragging
    ranks 1-2 along). Zero-variance nulls (every user has 4 events on
    4 days) exercise the NULL-z NULLS-LAST path; z's replayed
    raw-Python. A global-null plant must reject nothing under either
    correction."""
    import datetime as dt
    import math

    from databricks_etl_pipelines_spark.catalog import QUERIES, load_all
    from databricks_etl_pipelines_spark.plans.queries_stats import (
        _FDR_BH_CRITS,
        _FDR_BONF_CRIT,
    )

    load_all()
    q6 = lambda v: math.floor(v * 1e6 + 0.5) / 1e6  # noqa: E731
    N = 200  # users per variant

    def build(path, lift):
        rows, eid = [], 0
        vals = {}  # variant -> list of per-event cents
        for i in range(N):
            for variant, parity in (("A", 0), ("B", 1)):
                uid = 2 * i + parity
                c = 2500 + 10 * (i % 25) + (lift if variant == "B" else 0)
                vals.setdefault(variant, []).append(c)
                for d in (3, 4, 5, 6):  # 4 events on 4 distinct days
                    rows.append(
                        (eid, dt.datetime(2024, 1, d, 9), uid, "view",
                         c / 100.0, "{}")
                    )
                    eid += 1
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long,"
            " event_type string, value double, props string",
        ).write.parquet(f"{path}/events.parquet")
        return vals

    def welch_z(a, b):
        na, nb = len(a), len(b)
        sa, sb = sum(a), sum(b)
        qa, qb = sum(x * x for x in a), sum(x * x for x in b)
        delta = sb / nb - sa / na
        rad = ((qa - sa * sa / na) / (na - 1)) / na + (
            (qb - sb * sb / nb) / (nb - 1)
        ) / nb
        return q6(delta / math.sqrt(rad)) if rad > 0 else None

    vals = build(tmp_path / "eff", 18)
    got = {
        r.metric: r
        for r in QUERIES["diag_fdr_adjusted"](
            spark, str(tmp_path / "eff")
        ).collect()
    }
    assert len(got) == 6
    # raw-Python replay: per-user totals are 4x the per-event value,
    # per-user avg is the value itself (4 identical events)
    z_mean = welch_z(
        [4 * c for c in vals["A"]], [4 * c for c in vals["B"]]
    )
    z_avg = welch_z(
        [c * 1000000 for c in vals["A"]],
        [c * 1000000 for c in vals["B"]],
    )
    assert abs(got["mean_spend"].z - z_mean) <= 2e-6
    assert abs(got["avg_txn_value"].z - z_avg) <= 2e-6
    # plant preconditions: every effect z inside (rank-2, rank-1)
    # criticals — Bonferroni must miss, the step-up must fire
    trio = ("mean_spend", "avg_txn_value", "ratio_cents_per_event")
    for m in trio:
        assert _FDR_BH_CRITS[1] <= abs(got[m].z) < _FDR_BH_CRITS[0], (
            m, got[m].z,
        )
        assert got[m].bonferroni_reject == 0, m
        assert got[m].bh_reject == 1, m
        assert got[m].bh_rank <= 3, m
    # the step-up property: the TOP rank fails its own bar yet rejects
    top = next(r for r in got.values() if r.bh_rank == 1)
    assert abs(top.z) < top.bh_crit and top.bh_reject == 1
    # zero-variance nulls: NULL z, ranked last, never rejected
    for m in ("events_per_user", "active_days", "retention_2day"):
        assert got[m].z is None, m
        assert got[m].bh_rank >= 4, m
        assert got[m].bh_reject == 0 and got[m].bonferroni_reject == 0
    # per-rank criticals are the pinned literals
    for r in got.values():
        assert r.bh_crit == _FDR_BH_CRITS[r.bh_rank - 1]
    assert _FDR_BONF_CRIT == _FDR_BH_CRITS[0]

    # global null: nothing fires under either correction
    build(tmp_path / "null", 0)
    got_n = QUERIES["diag_fdr_adjusted"](
        spark, str(tmp_path / "null")
    ).collect()
    for r in got_n:
        assert r.bh_reject == 0 and r.bonferroni_reject == 0, r.metric


def test_hte_by_exposure_planted_decay(spark, tmp_path):
    """diag_hte_by_exposure on a planted NOVELTY effect — treated
    +$20/event in week 1 since enrollment, zero afterwards: per-bucket
    lifts and Welch SEs replayed raw-Python (including a late-enrolling
    pair whose calendar-day-10+ events land in THEIR week 1 — the
    bucket is exposure-relative, not calendar), the pooled per-user
    lift equals the SUM of bucket lifts (so it cannot distinguish
    decay from persistence), and the trend z fires. A persistent plant
    (same lift in both buckets) must read trend_z = 0 and not fire."""
    import datetime as dt
    import math

    from databricks_etl_pipelines_spark.catalog import QUERIES, load_all

    load_all()
    q6 = lambda v: math.floor(v * 1e6 + 0.5) / 1e6  # noqa: E731

    def build(path, wk1_lift, later_lift):
        rows, eid = [], 0
        users = []  # (uid, variant, [(day, cents), ...])
        for i in range(20):
            for variant, parity in (("A", 0), ("B", 1)):
                uid = 2 * i + parity
                evs = []
                for d in (1, 2, 3, 4):  # week 1 (enroll day 1)
                    c = 2500 + 10 * i
                    if variant == "B":
                        c += wk1_lift
                    evs.append((d, c))
                for d in (10, 11, 12, 13):  # later
                    c = 2500 + 10 * i
                    if variant == "B":
                        c += later_lift
                    evs.append((d, c))
                users.append((uid, variant, evs))
        # late-enrolling pair: first event day 10, so days 10-13 are
        # THEIR week 1 — identical values in both variants
        for variant, parity in (("A", 0), ("B", 1)):
            uid = 40 + parity
            users.append((uid, variant, [(d, 3000) for d in (10, 11, 12, 13)]))
        for uid, variant, evs in users:
            for d, c in evs:
                rows.append(
                    (eid, dt.datetime(2024, 1, d, 9), uid, "view",
                     c / 100.0, "{}")
                )
                eid += 1
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long,"
            " event_type string, value double, props string",
        ).write.parquet(f"{path}/events.parquet")
        return users

    def replay(users):
        cells = {}  # (bucket, variant) -> [per-user bucket cents]
        for _, variant, evs in users:
            enroll = min(d for d, _ in evs)
            wk1 = sum(c for d, c in evs if d - enroll < 7)
            later = sum(c for d, c in evs if d - enroll >= 7)
            cells.setdefault(("wk1", variant), []).append(wk1)
            cells.setdefault(("later", variant), []).append(later)
        out = {}
        for bucket in ("wk1", "later"):
            a, b = cells[(bucket, "A")], cells[(bucket, "B")]
            na, nb = len(a), len(b)
            sya, syb = sum(a), sum(b)
            syya = sum(x * x for x in a)
            syyb = sum(x * x for x in b)
            delta = syb / nb - sya / na
            rad = ((syya - sya * sya / na) / (na - 1)) / na + (
                (syyb - syb * syb / nb) / (nb - 1)
            ) / nb
            out[bucket] = (na, nb, delta, rad)
        return out

    # --- novelty plant: +2000 cents/event in week 1 only ---
    users = build(tmp_path / "decay", 2000, 0)
    got = {
        r.bucket: r
        for r in QUERIES["diag_hte_by_exposure"](
            spark, str(tmp_path / "decay")
        ).collect()
    }
    exp = replay(users)
    assert set(got) == {"wk1", "later"}
    for bucket, (na, nb, delta, rad) in exp.items():
        r = got[bucket]
        assert (r.n_control, r.n_treated) == (na, nb), bucket
        assert abs(r.lift_cents - q6(delta)) <= 1e-6, bucket
        assert abs(r.se_lift - q6(math.sqrt(rad))) <= 1e-6, bucket
    d_w1, rad_w1 = exp["wk1"][2], exp["wk1"][3]
    d_lt, rad_lt = exp["later"][2], exp["later"][3]
    assert d_w1 > 1000 and abs(d_lt) < 1  # the decay
    tz = q6((d_w1 - d_lt) / math.sqrt(rad_w1 + rad_lt))
    for r in got.values():
        assert abs(r.trend_z - tz) <= 1e-6
        assert r.novelty_flag == 1  # the trend fires
        # pooled = sum of bucket lifts: cannot tell decay from
        # persistence — exactly why the per-bucket readout exists
        assert abs(r.pooled_lift_cents - (d_w1 + d_lt)) <= 2e-6
        assert r.pooled_lift_cents > 1000

    # --- persistent plant: same lift in both buckets -> no fire ---
    build(tmp_path / "persist", 2000, 2000)
    got_p = {
        r.bucket: r
        for r in QUERIES["diag_hte_by_exposure"](
            spark, str(tmp_path / "persist")
        ).collect()
    }
    for r in got_p.values():
        assert r.trend_z == 0.0
        assert r.novelty_flag == 0


def test_quantile_lift_ci_planted_ranks_and_whale(spark, tmp_path):
    """diag_quantile_lift_ci on a rank-transparent plant (U = 40 users
    per variant with per-user totals 100·i, so the order statistic at
    rank r IS 100·r): the binomial rank bounds l/u = ⌈qU ∓
    z·√(Uq(1−q))⌉ replayed raw-Python must match the reported rank
    columns AND the picked bounds; and the whale-invariance the
    distribution-free CI exists for — variant B's top user is 100×,
    every reported rank and bound still equals variant A's."""
    import datetime as dt
    import math

    from databricks_etl_pipelines_spark.catalog import QUERIES, load_all
    from databricks_etl_pipelines_spark.plans.queries_stats import (
        _PH_Z_CRIT,
    )

    load_all()
    U = 40
    rows, eid, uid = [], 0, 0
    for variant, parity in (("A", 0), ("B", 1)):
        for i in range(1, U + 1):
            uid += 2
            u = uid + parity
            y = 100 * i
            if variant == "B" and i == U:
                y *= 100  # the whale: above every CI rank (max 36)
            rows.append(
                (eid, dt.datetime(2024, 1, 5, 9), u, "view", y / 100.0,
                 "{}")
            )
            eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")
    got = {
        r.variant: r
        for r in QUERIES["diag_quantile_lift_ci"](
            spark, str(tmp_path)
        ).collect()
    }
    # raw-Python replay of the rank arithmetic
    expect = {}
    for p in (25, 50, 75):
        q = p / 100.0
        s = _PH_Z_CRIT * math.sqrt(U * q * (1 - q))
        expect[p] = (
            max(math.ceil(q * U - s), 1),
            math.ceil(p * U / 100),
            min(math.ceil(q * U + s), U),
        )
    assert expect == {25: (5, 10, 16), 50: (14, 20, 27), 75: (25, 30, 36)}
    for v in ("A", "B"):
        g = got[v]
        assert g.n_users == U, v
        for p in (25, 50, 75):
            lo_r, pt_r, hi_r = expect[p]
            assert getattr(g, f"rank_lo_{p}") == lo_r, (v, p)
            assert getattr(g, f"rank_hi_{p}") == hi_r, (v, p)
            # order statistic at rank r is 100·r by construction —
            # the whale (rank 40 > 36) moves nothing
            assert getattr(g, f"p{p}_lo") == 100 * lo_r, (v, p)
            assert getattr(g, f"p{p}") == 100 * pt_r, (v, p)
            assert getattr(g, f"p{p}_hi") == 100 * hi_r, (v, p)
            assert (
                getattr(g, f"p{p}_lo")
                <= getattr(g, f"p{p}")
                <= getattr(g, f"p{p}_hi")
            )
    # the whale DID move B's sum (what a mean CI would have seen)
    assert 100 * U * 100 > 2 * sum(100 * i for i in range(1, U + 1))


def test_quantile_lift_planted_exact_ranks(spark, tmp_path):
    """diag_quantile_lift on a plant with known order statistics and a
    WHALE: exact rank-⌈p·U/100⌉ semantics (ties included), and the
    robustness property the query exists for — one whale moves the
    mean lift while every quantile lift stays 0."""
    import datetime as dt

    from databricks_etl_pipelines_spark.catalog import QUERIES, load_all

    load_all()
    # 8 users per variant with IDENTICAL per-user totals, except B gets
    # one whale (the max user is 100x) — means diverge, quantiles don't
    totals = [100, 200, 300, 400, 500, 600, 700, 800]
    rows, eid, uid = [], 0, 0
    for variant, parity in (("A", 0), ("B", 1)):
        for i, cents in enumerate(totals):
            uid += 2
            u = uid + parity
            y = cents
            if variant == "B" and i == len(totals) - 1:
                y = cents * 100  # the whale
            rows.append(
                (eid, dt.datetime(2024, 1, 5, 9), u, "view", y / 100.0,
                 "{}")
            )
            eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")
    got = {
        r.variant: r
        for r in QUERIES["diag_quantile_lift"](
            spark, str(tmp_path)
        ).collect()
    }
    # U = 8: rank(p25) = ceil(2) = 2nd smallest, rank(p50) = 4th,
    # rank(p75) = 6th — exact order statistics, whale untouched
    for v in ("A", "B"):
        g = got[v]
        assert g.n_users == 8
        assert (g.p25, g.p50, g.p75) == (200, 400, 600), v
    for g in got.values():
        assert (g.lift_p25, g.lift_p50, g.lift_p75) == (0, 0, 0)
    # sanity: the whale DID move the sums (what a mean lift would see)
    a_sum = sum(totals)
    b_sum = sum(totals) - totals[-1] + totals[-1] * 100
    assert b_sum > 10 * a_sum
