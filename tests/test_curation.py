"""Corpus curation pipeline: gates, dedup stages, funnel accounting."""

from __future__ import annotations

from databricks_etl_pipelines_spark.operators.curation import curate_corpus


GOOD = (
    "the quick brown fox jumps over the lazy dog and then the dog "
    "chases the fox around the old farm yard for a while longer"
)


def _docs(spark):
    rows = [
        (0, GOOD),                                  # keeper
        (1, GOOD),                                  # exact dup of 0
        (2, GOOD + " extra trailing words here"),   # near dup of 0
        (3, "zz 123 456 789 000 111"),              # low quality
        (4, "der hund läuft durch den wald und das ist ein langer satz "
            "mit vielen der die das und noch mehr worten für den test "
            "damit die qualität hoch genug ist"),   # German, decent quality
        (5, "a completely different but equally long and wordy document "
            "about the weather in the mountains where it rains for days "
            "and the rivers rise slowly over the rocks"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_curation_stages_and_funnel(spark):
    clean, report = curate_corpus(_docs(spark), min_quality=50, langs=("en",))
    kept = sorted(r.doc_id for r in clean.collect())
    assert 0 in kept                 # cluster keeper survives
    assert 1 not in kept             # exact dup dropped
    assert 2 not in kept             # near dup dropped
    assert 3 not in kept             # low quality dropped
    assert 4 not in kept             # wrong language dropped
    assert 5 in kept                 # healthy unique doc survives

    funnel = {r.stage: r for r in report.collect()}
    assert funnel["input"].rows_out == 6
    # each stage's rows_in chains from the previous stage's rows_out
    order = ["input", "quality_gate", "language_gate", "exact_dedup", "near_dedup"]
    for prev, cur in zip(order, order[1:]):
        assert funnel[cur].rows_in == funnel[prev].rows_out
        assert funnel[cur].rows_dropped == funnel[cur].rows_in - funnel[cur].rows_out
    assert funnel["near_dedup"].rows_out == len(kept)


def test_duplicate_clusters_chain_collapses_to_min(spark):
    """Min-propagation CC: a 4-long chain plus a separate pair resolve to
    per-component minimum labels in a bounded number of rounds."""
    from databricks_etl_pipelines_spark.operators.components import (
        duplicate_clusters,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 10)],
        "id_a long, id_b long",
    )
    got = {
        r.id: r.cluster_id for r in duplicate_clusters(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_duplicate_clusters_collected_equals_distributed(spark):
    """r15: the size-gated driver union-find path and the distributed
    hash-min fallback produce the SAME (id, cluster_id) relation — pinned
    on a graph with a long sparse chain (where one-pass heuristics fail),
    a 2-cycle, duplicate edges, and an isolated pair."""
    from databricks_etl_pipelines_spark.operators.components import (
        duplicate_clusters,
    )

    edges = [(i, i + 1) for i in range(1, 9)] + [
        (20, 21), (21, 20), (20, 21), (30, 31),
    ]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    collected = {
        r.id: r.cluster_id
        for r in duplicate_clusters(pairs).collect()  # default: collect path
    }
    distributed = {
        r.id: r.cluster_id
        for r in duplicate_clusters(pairs, collect_threshold=0).collect()
    }
    assert collected == distributed
    assert collected[8] == 1 and collected[21] == 20 and collected[31] == 30


def test_curation_exact_components_matches_heuristic_here(spark):
    """On this corpus every near-dup pairs directly with the cluster min,
    so exact CC and the one-pass heuristic agree — and both keep exactly
    one doc per duplicate cluster."""
    clean, _ = curate_corpus(
        _docs(spark), min_quality=50, langs=("en",), exact_components=True
    )
    kept = sorted(r.doc_id for r in clean.collect())
    assert kept == [0, 5]


def test_stratified_sample_deterministic_and_partition_independent(spark):
    from databricks_etl_pipelines_spark.operators.curation import (
        quota_by_quality,
        stratified_sample,
    )
    from pyspark.sql import functions as F

    df = spark.range(0, 2000).select(
        F.col("id"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("de").alias("lang"),
    )
    kept1 = {
        r.id
        for r in stratified_sample(
            df, "lang", {"en": 0.3, "de": 0.9}, "id", seed=7
        ).collect()
    }
    kept2 = {
        r.id
        for r in stratified_sample(
            df.repartition(13), "lang", {"en": 0.3, "de": 0.9}, "id", seed=7
        ).collect()
    }
    assert kept1 == kept2  # pure function of (id, seed), not layout
    en = sum(1 for i in kept1 if i % 2 == 0) / 1000
    de = sum(1 for i in kept1 if i % 2 == 1) / 1000
    assert abs(en - 0.3) < 0.08 and abs(de - 0.9) < 0.08
    # different seed => different membership
    kept3 = {
        r.id
        for r in stratified_sample(
            df, "lang", {"en": 0.3, "de": 0.9}, "id", seed=8
        ).collect()
    }
    assert kept3 != kept1

    # quota: exactly N per stratum, highest-ordered rows win
    scored = df.withColumn("score", (F.col("id") % 100).cast("int"))
    top = quota_by_quality(scored, "lang", "score", 5, "id").collect()
    by_lang = {}
    for r in top:
        by_lang.setdefault(r.lang, []).append(r.score)
    assert all(len(v) == 5 for v in by_lang.values())
    assert all(min(v) >= 98 for v in by_lang.values())  # top scores kept


def test_shard_assignment_is_a_permutation(spark, sf_dir):
    """Every doc lands in exactly one shard; positions within each shard
    are 1..len(shard) dense; re-running yields the identical assignment."""
    from databricks_etl_pipelines_spark.operators.curation import (
        shard_assignment,
    )
    from databricks_etl_pipelines_spark.sources import table

    docs = table(spark, sf_dir, "documents").select("doc_id")
    a = shard_assignment(docs, "doc_id", 8).collect()
    assert len(a) == docs.count()
    by_shard = {}
    for r in a:
        by_shard.setdefault(r.shard_id, []).append(r.shard_pos)
    assert set(by_shard) <= set(range(8))
    for positions in by_shard.values():
        assert sorted(positions) == list(range(1, len(positions) + 1))
    b = shard_assignment(docs, "doc_id", 8).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_pack_sequences_planted_and_invariants(spark, sf_dir):
    """Greedy fill semantics on a planted size sequence, then invariants
    over the real documents table: every doc packed exactly once, every
    multi-doc pack within budget, contiguous offsets, decent fill."""
    from pyspark.sql import functions as F

    from databricks_etl_pipelines_spark.functions.textfns import token_count
    from databricks_etl_pipelines_spark.operators.packing import (
        pack_sequences,
        packing_efficiency,
    )
    from databricks_etl_pipelines_spark.sources import table

    sizes = [60, 50, 40, 30, 200, 10]
    planted = spark.createDataFrame(
        list(enumerate(sizes)), "doc_id long, n_tokens long"
    )
    got = {
        r.doc_id: (r.pack_id, r.pack_offset)
        for r in pack_sequences(
            planted, "doc_id", "n_tokens", window=100, n_partitions=1
        ).collect()
    }
    base = got[0][0]
    # doc: (pack relative to first, offset) — overflow starts a new pack,
    # an oversized doc gets its own, exact fill closes the pack
    assert {d: (p - base, o) for d, (p, o) in got.items()} == {
        0: (0, 0), 1: (1, 0), 2: (1, 50), 3: (2, 0), 4: (3, 0), 5: (4, 0),
    }

    # split_oversized: a 250-token doc becomes 2 full window fragments +
    # a 50-token tail whose pack the next doc shares
    sp = {
        (r.frag_index): (r.pack_id, r.pack_offset, r.n_tokens, r.tok_start)
        for r in pack_sequences(
            spark.createDataFrame(
                [(0, 250), (1, 30)], "doc_id long, n_tokens long"
            ),
            "doc_id", "n_tokens", window=100, n_partitions=1,
            split_oversized=True,
        ).filter("doc_id = 0").collect()
    }
    b = sp[0][0]
    assert sp == {
        0: (b, 0, 100, 0),
        1: (b + 1, 0, 100, 100),
        2: (b + 2, 0, 50, 200),
    }

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", token_count("text").alias("n_tokens")
    )
    packed = pack_sequences(docs, "doc_id", "n_tokens", 256, 8).persist()
    assert packed.count() == docs.count()
    assert packed.select("doc_id").distinct().count() == docs.count()
    over = (
        packed.groupBy("pack_id")
        .agg(F.sum("n_tokens").alias("s"), F.count("*").alias("c"))
        .filter((F.col("s") > 256) & (F.col("c") > 1))
    )
    assert over.count() == 0  # only single oversized docs may exceed
    # offsets are the running sum within each pack
    from pyspark.sql import Window

    w = Window.partitionBy("pack_id").orderBy("pack_offset")
    bad = packed.withColumn(
        "expect",
        F.coalesce(
            F.lag(F.col("pack_offset") + F.col("n_tokens")).over(w), F.lit(0)
        ),
    ).filter(F.col("pack_offset") != F.col("expect"))
    assert bad.count() == 0
    eff = packing_efficiency(packed, 256).head()
    assert eff.fill_ratio > 0.5
    packed.unpersist()

    # split_oversized reassembly on the REAL table at a window most docs
    # exceed: fragments of each doc must tile [0, nt) exactly — token
    # sums match, tok_start = frag_index·window, no gaps or overlaps
    split = pack_sequences(
        docs, "doc_id", "n_tokens", 64, 8, split_oversized=True
    ).persist()
    re_sum = (
        split.groupBy("doc_id")
        .agg(
            F.sum("n_tokens").alias("s"),
            F.count("*").alias("nfrag"),
            F.max("frag_index").alias("maxf"),
        )
        .join(docs, "doc_id")
    )
    assert re_sum.filter(F.col("s") != F.col("n_tokens")).count() == 0
    assert re_sum.filter(F.col("nfrag") != F.col("maxf") + 1).count() == 0
    assert split.filter(
        F.col("tok_start") != F.col("frag_index") * 64
    ).count() == 0
    assert split.filter("frag_index > 0").count() > 0  # non-vacuous
    split.unpersist()


def test_write_training_shards_layout_and_order(spark, sf_dir, tmp_path):
    """Shard writer: one directory per shard, ONE file per directory (the
    exchange is reused by window + write), rows within each shard file
    ordered by shard_pos, and the readback equals the assignment."""
    import glob

    from databricks_etl_pipelines_spark.operators.curation import (
        shard_assignment,
        write_training_shards,
    )
    from databricks_etl_pipelines_spark.sources import table

    docs = table(spark, sf_dir, "documents").select("doc_id", "lang")
    out = str(tmp_path / "shards")
    back = write_training_shards(docs, "doc_id", out, 4)

    dirs = sorted(glob.glob(f"{out}/shard_id=*"))
    assert len(dirs) == 4
    for d in dirs:
        assert len(glob.glob(f"{d}/part-*")) == 1  # aligned single-file write
        # within-file order is shard_pos order (training loader reads
        # sequentially)
        pos = [r.shard_pos for r in spark.read.parquet(d).collect()]
        assert pos == sorted(pos)

    expected = {
        (r.doc_id, r.shard_id, r.shard_pos)
        for r in shard_assignment(docs, "doc_id", 4).collect()
    }
    got = {
        (r.doc_id, r.shard_id, r.shard_pos) for r in back.collect()
    }
    assert got == expected


def test_repetition_gate_drops_degenerate_docs(spark):
    """max_dup_bigram gates out a degenerate repeated-word doc that passes
    the quality gate, reports the stage, and costs no extra stage rows
    when disabled."""
    from databricks_etl_pipelines_spark.operators.curation import (
        curate_corpus,
    )

    normal = (
        "the quick brown fox jumps over the lazy dog and then walks away "
        "to find a better spot in the warm sun"
    )
    spammy = "buy the now " * 12  # high dup-bigram mass, decent length
    docs = spark.createDataFrame(
        [(0, normal), (1, spammy.strip())], "doc_id long, text string"
    )

    clean_off, report_off = curate_corpus(docs, min_quality=0)
    assert "repetition_gate" not in {
        r.stage for r in report_off.collect()
    }
    kept_off = {r.doc_id for r in clean_off.collect()}
    assert kept_off == {0, 1}  # no repetition gate -> spam survives

    clean_on, report_on = curate_corpus(
        docs, min_quality=0, max_dup_bigram=0.5
    )
    stages = {r.stage: r for r in report_on.collect()}
    assert stages["repetition_gate"].rows_dropped == 1
    assert {r.doc_id for r in clean_on.collect()} == {0}


def test_leakage_safe_split_keeps_chains_together(spark):
    """A near-dup CHAIN (a~b, b~c, a!~c) must land on ONE side of the
    split — the exact case a per-document hash split gets wrong — and the
    assignment must be a pure function of the data (re-run identical)."""
    from databricks_etl_pipelines_spark.operators.curation import (
        leakage_safe_split,
    )

    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi "
    )
    words = base.split()
    mid = " ".join(words[:-4] + ["w1", "w2", "w3", "w4"])
    far = " ".join(words[4:] + ["w1", "w2", "w3", "w4"])  # ~mid, not ~base
    rows = [(1, base), (2, mid), (3, far)]
    # unrelated singleton docs to populate both splits
    rows += [(100 + i,
              f"doc{i} " + " ".join(f"tok{i}_{j}" for j in range(20)))
             for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    out = leakage_safe_split(docs, "text", "doc_id", test_fraction=0.3)
    got = {r.doc_id: (r.group_key, r.split) for r in out.collect()}
    # the chain collapses to one group key (min id) and one split side
    assert got[1] == got[2] == got[3]
    assert got[1][0] == 1
    # split is two-sided on the singleton population
    sides = {got[100 + i][1] for i in range(40)}
    assert sides == {"train", "test"}

    again = {
        r.doc_id: (r.group_key, r.split)
        for r in leakage_safe_split(
            docs, "text", "doc_id", test_fraction=0.3
        ).collect()
    }
    assert again == got


def test_quality_pipeline_survives_degenerate_docs(spark):
    """Empty and whitespace-only documents — the first thing raw web text
    contains — must flow through the rubric and the full curation funnel
    without a DIVIDE_BY_ZERO (ANSI mode raises where DuckDB yields NULL;
    the ratio helpers nullif their denominators so both engines agree)."""
    from databricks_etl_pipelines_spark.operators.curation import (
        curate_corpus,
        quality_score,
    )

    docs = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "word"),
         (4, "a perfectly ordinary document with several plain words")],
        "doc_id long, text string",
    )
    scores = {
        r.doc_id: r.q
        for r in docs.select(
            "doc_id", quality_score("text").alias("q")
        ).collect()
    }
    assert scores[1] == 0 and 0 <= scores[2] <= 20
    clean, report = curate_corpus(docs, min_quality=1, max_dup_bigram=0.9)
    assert clean.count() >= 0  # executes without raising
    assert {r.stage for r in report.collect()} >= {"input", "quality_gate"}


def test_leakage_split_pair_fn_agreement(spark):
    """The 100 TB pair generator (banded MinHash-LSH) and the exact PPJoin
    default produce the SAME split on a planted near-dup corpus: every
    planted pair has Jaccard well above threshold, so any LSH
    parameterization with recall ~1 there recovers the same components,
    the same group keys, and therefore byte-identical split assignment."""
    from databricks_etl_pipelines_spark.operators.curation import (
        leakage_safe_split,
    )
    from databricks_etl_pipelines_spark.operators.dedup import (
        minhash_lsh_dedup_pairs,
    )

    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi "
    )
    words = base.split()
    rows = [(1, base)]
    # chain: each next doc shifts by 2 words — adjacent Jaccard high,
    # endpoints unrelated; plus singletons
    for k in range(2, 6):
        rows.append(
            (k, " ".join(words[2 * (k - 1):] +
                         [f"x{k}_{j}" for j in range(2 * (k - 1))]))
        )
    rows += [(100 + i,
              f"doc{i} " + " ".join(f"tok{i}_{j}" for j in range(20)))
             for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    exact = {
        (r.doc_id, r.group_key, r.split)
        for r in leakage_safe_split(
            docs, "text", "doc_id", test_fraction=0.3, threshold=0.5
        ).collect()
    }
    lsh = {
        (r.doc_id, r.group_key, r.split)
        for r in leakage_safe_split(
            docs, "text", "doc_id", test_fraction=0.3, threshold=0.5,
            pair_fn=minhash_lsh_dedup_pairs,
        ).collect()
    }
    assert lsh == exact and len(exact) == len(rows)


def test_pack_concat_chunks_layout_and_manifest(spark, sf_dir):
    """Concat-then-chunk layout equals a local serial replay on planted
    sizes (incl. a zero-token doc and a multi-chunk straddler), is
    partition-count invariant on the real corpus, and the manifest
    accounts for every (doc, chunk) incidence exactly once."""
    from pyspark.sql import functions as F

    from databricks_etl_pipelines_spark.functions.textfns import token_count
    from databricks_etl_pipelines_spark.operators.packing import (
        chunk_manifest,
        pack_concat_chunks,
    )
    from databricks_etl_pipelines_spark.sources import table

    sizes = [7, 0, 5, 25, 3, 10]  # chunk=8: doc 3 spans chunks 1..4
    planted = spark.createDataFrame(
        list(enumerate(sizes)), "doc_id long, n_tokens long"
    )
    got = {
        r.doc_id: (r.tok_start, r.chunk_start, r.chunk_end, r.n_chunks)
        for r in pack_concat_chunks(
            planted, "doc_id", "n_tokens", chunk_tokens=8, n_partitions=3
        ).collect()
    }
    start, expect = 0, {}
    for d, nt in enumerate(sizes):
        cs = start // 8
        ce = (start + nt - 1) // 8 if nt else cs
        expect[d] = (start, cs, ce, ce - cs + 1 if nt else 0)
        start += nt
    assert got == expect

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", token_count("text").alias("n_tokens")
    )
    a = pack_concat_chunks(docs, "doc_id", "n_tokens", 256, 4)
    b = pack_concat_chunks(docs, "doc_id", "n_tokens", 256, 16)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))

    man = chunk_manifest(a)
    total = man.agg(F.sum("n_docs"), F.sum("n_starting_docs")).head()
    spans = a.filter("n_chunks > 0")
    assert total[0] == spans.agg(F.sum("n_chunks")).head()[0]
    assert total[1] == spans.count()
    # chunk ids are dense 0..max (a nonempty corpus leaves no hole)
    n_chunks = man.count()
    assert man.agg(F.min("chunk_id"), F.max("chunk_id")).head() == (
        0, n_chunks - 1,
    )


def test_prepare_pretraining_corpus_funnel_invariants(spark):
    """End-to-end prep pipeline on a crafted corpus: the funnel chains
    (each stage's rows_in == previous rows_out), the scrub is verified in
    the OUTPUT (selected docs carry no raw PII effect: a planted-email doc
    deduped identically to its scrubbed twin), and each gate drops the
    planted victim."""
    from pyspark.sql import functions as F

    from databricks_etl_pipelines_spark.operators.curation import (
        prepare_pretraining_corpus,
    )

    good = ("the quick brown fox jumps over the lazy dog while the cat "
            "watches from a warm windowsill in the afternoon sun today")
    boiler = "copy paste copy paste copy paste copy paste copy paste one"
    rows = [
        # two docs identical AFTER scrubbing (different raw emails):
        (0, "s1", good + " mail a@b.io now"),
        (1, "s1", good + " mail c@d.io now"),
        (2, "s1", "another entirely distinct sentence about gardening "
                  "tulips roses daffodils under spring rain with muddy "
                  "boots and rusty wheelbarrow"),
        (3, "s2", "bad"),                     # fails quality (too short)
        (4, "s2", boiler + " alpha"),         # shares 8-gram boilerplate
        (5, "s2", boiler + " beta"),          # with doc 4 -> span gate
        (6, "s2", "numbers and letters combine into pleasant narrative "
                  "about sailing boats across quiet harbor before dawn "
                  "arrived yesterday evening"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    selected, report = prepare_pretraining_corpus(
        df, F.col("source") == "s1", min_quality=60,
        span_n=8, max_span_fraction=0.5, budget_tokens=10_000, n_buckets=32,
    )
    rep = {r.stage: r for r in report.collect()}
    order = ["input", "pii_scrub", "quality_gate", "exact_dedup",
             "span_gate", "dsir_budget_select"]
    for prev, cur in zip(order, order[1:]):
        assert rep[cur].rows_in == rep[prev].rows_out, (prev, cur)
        assert rep[cur].rows_out == rep[cur].rows_in - rep[cur].rows_dropped
    assert rep["quality_gate"].rows_dropped >= 1      # doc 3
    assert rep["exact_dedup"].rows_dropped == 1       # scrubbed twins 0/1
    assert rep["span_gate"].rows_dropped == 2         # boilerplate 4,5
    ids = {r.doc_id for r in selected.collect()}
    assert 1 not in ids and 3 not in ids and 4 not in ids and 5 not in ids
    assert 0 in ids  # min-id twin survives


def test_decontaminate_report_flags_planted_overlap_and_broadcasts(spark):
    """Benchmark decontamination: a corpus doc embedding a benchmark
    passage is flagged with the right DISTINCT n-gram hit count; clean
    docs report 0 hits and keep their n-gram totals; the benchmark side
    enters the join broadcast (the corpus n-grams must never shuffle —
    the 100 TB contract)."""
    from databricks_etl_pipelines_spark.operators.curation import (
        decontaminate_report,
    )

    bench_text = "alpha beta gamma delta epsilon zeta"
    corpus = spark.createDataFrame(
        [
            # embeds the benchmark 4-token run "beta gamma delta epsilon"
            (10, "intro words then beta gamma delta epsilon and more"),
            (11, "totally unrelated content about sailing the north sea"),
            (12, bench_text),  # verbatim benchmark copy
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(0, bench_text)], "doc_id long, text string")

    report = decontaminate_report(
        corpus, bench, "text", "doc_id", ngram_n=3, min_hits=2
    )
    rows = {r.id: r for r in report.collect()}

    # doc 10: shares exactly the 3-grams inside "beta gamma delta epsilon"
    # = 2 distinct trigrams of the benchmark
    assert rows[10].bench_hits == 2 and rows[10].contaminated
    assert rows[11].bench_hits == 0 and not rows[11].contaminated
    # doc 12: all 4 benchmark trigrams, full containment
    assert rows[12].bench_hits == 4 and rows[12].contaminated
    # n_ngrams is the doc's own distinct trigram count (9 tokens -> 7)
    assert rows[10].n_ngrams == 7

    plan = report._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_remove_boilerplate_passages_rewrites_in_order(spark):
    """Planted semantics for the CCNet-style rewrite: a footer passage
    shared by 3 docs is cut from all of them, unique passages survive in
    their ORIGINAL order (including around the cut), a doc that is pure
    boilerplate comes back as '' (not NULL), and a passage repeated
    within ONE doc only is kept (document frequency, not occurrence
    count, is the boilerplate signal)."""
    from databricks_etl_pipelines_spark.operators.curation import (
        remove_boilerplate_passages,
    )

    footer = "c1 c2 c3 c4 c5 c6 c7 c8"  # one exact 8-word passage
    docs = spark.createDataFrame(
        [
            (1, f"a1 a2 a3 a4 a5 a6 a7 a8 {footer} z1 z2 z3 z4 z5 z6 z7 z8"),
            (2, f"b1 b2 b3 b4 b5 b6 b7 b8 {footer}"),
            (3, footer),
            # intra-doc repetition of its own first passage: df == 1
            (4, "d1 d2 d3 d4 d5 d6 d7 d8 d1 d2 d3 d4 d5 d6 d7 d8"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.id: r
        for r in remove_boilerplate_passages(
            docs, "text", "doc_id", passage_size=8, max_doc_frequency=2
        ).collect()
    }
    assert out[1].clean_text == (
        "a1 a2 a3 a4 a5 a6 a7 a8 z1 z2 z3 z4 z5 z6 z7 z8"
    )
    assert (out[1].n_passages, out[1].n_dropped) == (3, 1)
    assert out[2].clean_text == "b1 b2 b3 b4 b5 b6 b7 b8"
    assert out[3].clean_text == "" and out[3].n_dropped == 1
    assert out[4].n_dropped == 0
    assert out[4].clean_text == "d1 d2 d3 d4 d5 d6 d7 d8 d1 d2 d3 d4 d5 d6 d7 d8"


def test_perplexity_buckets_planted_terciles_and_tie_rule(spark):
    """Planted surprisal gradient: two identical low-surprisal docs (a
    rounding TIE — both must land in head, the ties-land-LOW rule), one
    mid, one all-singletons doc in the tail; and the bucketing must be
    partition-layout independent."""
    from databricks_etl_pipelines_spark.operators.curation import (
        perplexity_buckets,
    )

    rows = [
        (0, "aa aa aa aa", "en"),
        (1, "aa aa aa aa", "en"),
        (2, "aa bb aa bb", "en"),
        (3, "zz yy xx ww", "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {
        r.doc_id: r
        for r in perplexity_buckets(docs, "text", "doc_id", "lang").collect()
    }
    assert out[0].bucket == "head" and out[1].bucket == "head"
    assert out[0].q_surprisal == out[1].q_surprisal
    assert out[2].bucket == "middle"
    assert out[3].bucket == "tail"
    assert out[0].q_surprisal < out[2].q_surprisal < out[3].q_surprisal
    again = {
        (r.doc_id, r.bucket, r.q_surprisal)
        for r in perplexity_buckets(
            docs.repartition(7), "text", "doc_id", "lang"
        ).collect()
    }
    assert again == {
        (r.doc_id, r.bucket, r.q_surprisal) for r in out.values()
    }


def test_temperature_epochs_boosts_low_resource_and_caps(spark):
    """alpha=0.5 smoothing: the low-resource group repeats (every doc ≥ 2
    epochs), the high-resource group is damped (≤ 1 epoch), a one-token
    group hits the max_epochs cap exactly, and the schedule is a pure
    function of (id, seed) — identical under any partition layout."""
    from databricks_etl_pipelines_spark.operators.curation import (
        temperature_epoch_plan,
    )

    rows = (
        [(i, "en", 10) for i in range(90)]
        + [(1000 + i, "zh", 10) for i in range(10)]
        + [(2000, "xx", 1)]
    )
    docs = spark.createDataFrame(
        rows, "doc_id long, lang string, n_tokens long"
    )
    plan = temperature_epoch_plan(
        docs, "lang", "n_tokens", "doc_id", seed=42, max_epochs=8
    )
    rows_out = plan.collect()
    per_doc: dict[int, int] = {}
    for r in rows_out:
        per_doc[r.doc_id] = per_doc.get(r.doc_id, 0) + 1
    # every zh doc repeats; every en doc appears at most once
    assert all(per_doc.get(1000 + i, 0) >= 2 for i in range(10))
    assert all(per_doc.get(i, 0) <= 1 for i in range(90))
    # the 1-token group's repetition factor explodes -> capped at 8
    assert per_doc[2000] == 8
    # epochs are dense 0..n-1 per doc
    zh_epochs = sorted(r.epoch for r in rows_out if r.doc_id == 1000)
    assert zh_epochs == list(range(len(zh_epochs)))
    again = sorted(
        (r.doc_id, r.epoch)
        for r in temperature_epoch_plan(
            docs.repartition(13), "lang", "n_tokens", "doc_id",
            seed=42, max_epochs=8,
        ).collect()
    )
    assert again == sorted((r.doc_id, r.epoch) for r in rows_out)


def test_overlapped_actions_keep_callers_job_group(spark):
    """curate_corpus and prepare_pretraining_corpus overlap two actions on
    a thread pool; those jobs must still carry the caller's job group, so
    cancelling the group (or tagging it) covers every job the call ran."""
    from pyspark.sql import functions as F

    from databricks_etl_pipelines_spark.operators.curation import (
        prepare_pretraining_corpus,
    )

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "curation-overlap-test"
    ungrouped_before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, "overlapped curation actions")
    try:
        curate_corpus(_docs(spark), min_quality=50, langs=("en",))
        docs = _docs(spark).withColumn("source", F.lit("s1"))
        prepare_pretraining_corpus(docs, F.lit(True), min_quality=50)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)
    ungrouped = set(tracker.getJobIdsForGroup(None)) - ungrouped_before
    assert tracker.getJobIdsForGroup(group)
    assert not ungrouped
