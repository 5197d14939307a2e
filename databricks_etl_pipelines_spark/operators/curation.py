"""End-to-end training-data corpus curation: quality gate → language gate →
exact dedup → near-dup removal, as one composable DataFrame pipeline.

This is the capability the individual operators exist FOR: a user points it
at a documents table and gets back the cleaned corpus plus a per-stage
attrition report. Every stage is the already-tested operator underneath —
this module only composes them.

Scale notes:
  * The quality/language gates are pure Column expressions — they fuse into
    the scan projection, costing zero extra passes.
  * Exact dedup is one hash-agg shuffle on a 16-byte text hash.
  * Near-dup removal consumes MinHash-LSH verified pairs and drops the
    higher id of every pair. For duplicate CLUSTERS this is the standard
    one-pass approximation of connected components: any doc that is the
    greater side of some pair is dropped, so each cluster keeps exactly its
    minimum id (every non-minimum member pairs with at least one smaller
    member when the cluster is LSH-connected; a full iterative
    min-propagation CC is only needed for long sparse chains, which
    near-dup thresholds ≥0.7 make rare).
  * The report is computed from the same lazily-built frames — Spark
    evaluates the whole thing in two actions (report + corpus).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from databricks_etl_pipelines_spark.session import invocation_pin

from databricks_etl_pipelines_spark.functions.textfns import (
    LANG_STOPWORDS,
    avg_token_length,
    digit_ratio,
    lang_id,
    punct_ratio,
    stopword_ratio,
    token_count,
)
from databricks_etl_pipelines_spark.operators.dedup import (
    exact_dedup_groups,
    minhash_lsh_dedup_pairs,
    ngram_jaccard_pairs,
)


def quality_score(text_col: str) -> F.Column:
    """0-100 heuristic (same rubric as the ``text_quality_score`` query)."""
    return (
        F.when(token_count(text_col).between(10, 1000), 30).otherwise(0)
        + F.when(avg_token_length(text_col).between(3, 12), 30).otherwise(0)
        + F.when(stopword_ratio(text_col, LANG_STOPWORDS["en"]) > 0.05, 20)
        .otherwise(0)
        + F.when(
            (punct_ratio(text_col) < 0.2) & (digit_ratio(text_col) < 0.2), 20
        ).otherwise(0)
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    id_col: str,
    seed: int = 42,
    default_fraction: float = 0.0,
) -> DataFrame:
    """Deterministic per-stratum downsampling — the corpus-mixing knob of a
    training-data pipeline (e.g. per-language quotas).

    Unlike ``df.sampleBy`` (Bernoulli on a per-partition RNG, so the kept
    set changes with the partition layout), membership here is a pure
    function of (id, seed): keep iff bucket(id, seed) < fraction·1e6,
    where bucket is the cross-engine rolling hash of md5(id || ':' seed).
    Reproducible across runs, cluster sizes, AND engines — md5 and the
    Karp-Rabin fold are bit-identical in DuckDB, so the sample membership
    itself is differential-testable (xxhash64 would not be)."""
    from databricks_etl_pipelines_spark.functions.textfns import (
        fingerprint_rolling,
    )

    bucket = fingerprint_rolling(
        F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f":{seed}")))
    ) % 1_000_000
    frac = None
    for value, p in fractions.items():
        branch = F.when(F.col(strata_col) == value, F.lit(p))
        frac = branch if frac is None else frac.when(
            F.col(strata_col) == value, F.lit(p)
        )
    frac = (
        frac.otherwise(F.lit(default_fraction))
        if frac is not None
        else F.lit(default_fraction)
    )
    return df.filter(bucket < frac * 1_000_000)


def reservoir_key(id_col: str, seed: int = 42) -> Column:
    """Deterministic uniform sampling key in [0, 2147483647): the
    cross-engine Karp-Rabin fold of md5(id || ':' || seed) — the same
    family every sampling operator here uses, at FULL rolling-hash
    granularity (no % 1e6 bucketing) so bottom-k order statistics and the
    KMV distinct estimate they imply stay sharp. A pure function of
    (id, seed): reproducible across runs, partition layouts, batch splits,
    AND engines — which is what lets a stream-maintained bottom-k sample
    equal its batch oracle exactly.

    ``id_col`` must be non-null: a null id hashes to a NULL key, and the
    engines then disagree on where it sorts (Spark ascending puts nulls
    FIRST, DuckDB puts them LAST) — so a null would silently occupy a
    bottom-k slot on one engine only. Filter or fail nulls upstream, as
    every id column in this repo's tables already guarantees."""
    from databricks_etl_pipelines_spark.functions.textfns import (
        fingerprint_rolling,
    )

    return fingerprint_rolling(
        F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f":{seed}")))
    )


def shard_assignment(
    df: DataFrame,
    id_col: str,
    n_shards: int,
    seed: int = 42,
) -> DataFrame:
    """Deterministic corpus shuffle + shard assignment — the 'write the
    training shards' step. Each row gets ``shard_id`` (which output shard)
    and ``shard_pos`` (its position within that shard), both pure functions
    of (id, seed) via the cross-engine md5 rolling hash, so the permutation
    is reproducible across runs, cluster sizes, and engines.

    Scale shape: one window shuffle partitioned on shard_id — the same
    partitioning the shard writer needs (repartition(shard_id) →
    sortWithinPartitions(shard_pos) → partitionBy(shard_id) write), so the
    assignment and the write share a single exchange.
    """
    from pyspark.sql import Window

    from databricks_etl_pipelines_spark.functions.textfns import (
        fingerprint_rolling,
    )

    bucket = fingerprint_rolling(
        F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f":{seed}")))
    ) % 1_000_000
    shard = (bucket % n_shards).cast("int")
    w = Window.partitionBy("shard_id").orderBy("__bucket", id_col)
    return (
        df.withColumn("__bucket", bucket)
        .withColumn("shard_id", shard)
        .withColumn("shard_pos", F.row_number().over(w).cast("bigint"))
        .drop("__bucket")
    )


def write_training_shards(
    df: DataFrame,
    id_col: str,
    out_dir: str,
    n_shards: int,
    seed: int = 42,
) -> DataFrame:
    """Materialize ``shard_assignment`` as the actual shard files: one
    directory per shard_id, rows inside each file ordered by shard_pos —
    the layout a training loader consumes sequentially.

    One exchange total: repartition on shard_id feeds both the window
    (same partitioning) and the partitioned write, and the in-partition
    sort orders rows without a second shuffle. Returns a lazy reader of
    the written shards."""
    assigned = shard_assignment(df, id_col, n_shards, seed)
    (
        # bare repartition (no explicit count) matches the window's
        # HashPartitioning(shard_id) exactly, so EnsureRequirements elides
        # it — ONE exchange; an explicit n_shards count would force a
        # second (verified via .explain: 1 Exchange vs 2)
        assigned.repartition("shard_id")
        .sortWithinPartitions("shard_id", "shard_pos")
        .write.mode("overwrite")
        .partitionBy("shard_id")
        .parquet(out_dir)
    )
    return df.sparkSession.read.parquet(out_dir)


def quota_by_quality(
    df: DataFrame,
    strata_col: str,
    order_col: str,
    quota: int,
    id_col: str,
) -> DataFrame:
    """Keep the top ``quota`` rows per stratum by ``order_col`` (ties break
    on id): the 'best N documents per language/source' selection step. One
    window shuffle on the stratum key; each stratum sorts in one task —
    use :func:`quota_by_quality_bounded` when a stratum exceeds task
    memory."""
    from pyspark.sql import Window

    w = Window.partitionBy(strata_col).orderBy(
        F.desc(order_col), F.col(id_col)
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= quota)
        .drop("__rn")
    )


def quota_by_quality_bounded(
    df: DataFrame,
    strata_col: str,
    order_col: str,
    quota: int,
    id_col: str,
    n_buckets: int = 64,
) -> DataFrame:
    """Bounded-memory :func:`quota_by_quality` — identical keeper set, no
    whole-stratum sort in any task.

    A count quota IS a token budget with every row weighing 1 token, so
    this delegates to :func:`token_budget_select_bounded`: learn per-group
    priority quantiles, discard whole buckets that start past the quota,
    and rank only the ~quota-sized surviving prefix exactly.
    """
    out = token_budget_select_bounded(
        df.withColumn("__one", F.lit(1)),
        strata_col,
        order_col,
        "__one",
        id_col,
        quota,
        n_buckets=n_buckets,
    )
    return out.drop("__one", "cum_tokens")


def curate_corpus(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: int = 50,
    langs: tuple[str, ...] = ("en",),
    near_dup_threshold: float = 0.7,
    exact_components: bool = False,
    max_dup_bigram: float | None = None,
    pair_fn=None,
) -> tuple[DataFrame, DataFrame]:
    """Returns (clean_corpus, report).

    ``max_dup_bigram`` (0..1) adds a Gopher-style repetition gate after
    the language gate: drop documents whose duplicated-bigram mass
    exceeds the threshold. Like the quality/language gates it is a pure
    Column expression folded into the same single scan — enabling it
    costs zero extra passes.

    report: one row per stage with rows_in / rows_out / rows_dropped —
    the attrition funnel a data-curation run is judged by.

    The gate counts (input/quality/language) come from ONE aggregated pass
    over the scored frame — three nested predicates summed in a single
    scan, instead of one count() action per stage. ``exact_unique`` is
    persisted because three downstream consumers share it (its own count,
    near-dup pair generation, and the final anti-join); it stays cached so
    actions on the returned corpus don't re-run the dedup shuffle.
    """
    scored = docs.withColumn("__q", quality_score(text_col)).withColumn(
        "__lang", lang_id(text_col)
    )
    q_pred = F.col("__q") >= min_quality
    lang_pred = F.col("__lang").isin(*langs)
    if max_dup_bigram is not None:
        from databricks_etl_pipelines_spark.functions.textfns import (
            word_shingles,
        )

        bgs = word_shingles(text_col, 2)
        rep_pred = (
            F.lit(1.0) - F.size(F.array_distinct(bgs)) / F.size(bgs)
        ) <= max_dup_bigram
    else:
        rep_pred = F.lit(True)
    gate_agg = scored.agg(
        F.count("*").alias("total"),
        F.sum(q_pred.cast("long")).alias("n_quality"),
        F.sum((q_pred & lang_pred).cast("long")).alias("n_lang"),
        F.sum((q_pred & lang_pred & rep_pred).cast("long")).alias("n_rep"),
    )

    lang_ok = scored.filter(q_pred & lang_pred & rep_pred)
    keepers = exact_dedup_groups(lang_ok, text_col, id_col).select(
        F.col("keeper_id").alias(id_col)
    )
    # invocation-scoped pin (r15; strategy conf-gated r16)
    exact_unique = lang_ok.join(keepers, id_col, "left_semi").transform(
        invocation_pin
    )
    # Overlap the two INDEPENDENT actions (r16, guide §2.6): the
    # gate-count aggregate and the dedup materialization were only
    # sequential because this function called them sequentially — a
    # 2-thread pool lets the second job's tasks back-fill executors
    # freed by the first job's straggler tail. The values are the same
    # scalars as before; n_clean stays sequential (it consumes the
    # pinned exact_unique). Pool threads start without the caller's Spark
    # local properties, so each callable is wrapped to inherit them: the
    # overlapped jobs stay in the caller's job group and carry its tags.
    inherit = inheritable_thread_target(exact_unique.sparkSession)
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_gates = pool.submit(inherit(gate_agg.first))
        f_exact = pool.submit(inherit(exact_unique.count))
        gate_counts = f_gates.result()
        n_exact = f_exact.result()
    total, n_quality, n_lang, n_rep = (
        gate_counts["total"] or 0,
        gate_counts["n_quality"] or 0,
        gate_counts["n_lang"] or 0,
        gate_counts["n_rep"] or 0,
    )

    # ``pair_fn(df, text_col, id_col, threshold)`` swaps the near-dup pair
    # generator (default: banded MinHash-LSH with the fast xxhash64
    # family; pass a cross-engine family to make the whole funnel
    # SQL-oracle-verifiable).
    if pair_fn is None:
        pairs = minhash_lsh_dedup_pairs(
            exact_unique, text_col, id_col, threshold=near_dup_threshold
        )
    else:
        pairs = pair_fn(exact_unique, text_col, id_col, near_dup_threshold)
    if exact_components:
        # exact duplicate-cluster resolution: iterative min-propagation CC
        # keeps exactly the minimum id of every connected component, even
        # across long sparse chains the one-pass heuristic would over-keep
        from databricks_etl_pipelines_spark.operators.components import (
            duplicate_clusters,
        )

        clusters = duplicate_clusters(pairs)
        drop = clusters.filter(F.col("id") != F.col("cluster_id")).select(
            F.col("id").alias(id_col)
        )
    else:
        drop = pairs.select(F.col("id_b").alias(id_col)).distinct()
    clean = exact_unique.join(drop, id_col, "left_anti").drop("__q", "__lang")
    n_clean = clean.count()

    spark = docs.sparkSession
    report = spark.createDataFrame(
        [
            ("input", total, total, 0),
            ("quality_gate", total, n_quality, total - n_quality),
            ("language_gate", n_quality, n_lang, n_quality - n_lang),
        ]
        + (
            [("repetition_gate", n_lang, n_rep, n_lang - n_rep)]
            if max_dup_bigram is not None
            else []
        )
        + [
            ("exact_dedup", n_rep, n_exact, n_rep - n_exact),
            ("near_dedup", n_exact, n_clean, n_exact - n_clean),
        ],
        "stage string, rows_in long, rows_out long, rows_dropped long",
    )
    return clean, report


def token_budget_select(
    df: DataFrame,
    group_col: str,
    priority_col: Column | str,
    token_col: Column | str,
    id_col: str,
    budget_tokens: int,
) -> DataFrame:
    """Per-group token-budget selection: within every ``group_col`` stratum,
    rank rows by ``priority_col`` descending (``id_col`` ascending as the
    deterministic tiebreak) and keep the greedy prefix whose running token
    total stays within ``budget_tokens``.

    This is the "fill each domain's token budget with its best documents"
    step of corpus mixing (the selection knob behind quality-weighted
    sampling a la Gopher/FineWeb corpus assembly): quotas are expressed in
    TOKENS, not documents, because training cost is token-denominated.

    Scale shape: one exchange (hash partition on ``group_col``) plus an
    in-partition sort — the same single-window plan as any per-group
    ranking. Each group must sort within one task; with the handful of
    domain strata a corpus has, per-group data can exceed a task — use
    :func:`token_budget_select_bounded` there, which pre-filters to a
    budget-sized candidate set before the exact window. This single-window
    form is the exact-semantics reference of that optimization.
    """
    from pyspark.sql import Window

    pri = F.col(priority_col) if isinstance(priority_col, str) else priority_col
    tok = F.col(token_col) if isinstance(token_col, str) else token_col
    w = (
        Window.partitionBy(group_col)
        .orderBy(pri.desc(), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.withColumn("cum_tokens", F.sum(tok.cast("bigint")).over(w))
        .filter(F.col("cum_tokens") <= budget_tokens)
    )


def token_budget_select_bounded(
    df: DataFrame,
    group_col: str,
    priority_col: Column | str,
    token_col: Column | str,
    id_col: str,
    budget_tokens: int,
    n_buckets: int = 64,
) -> DataFrame:
    """Bounded-memory :func:`token_budget_select` — identical result, but no
    task ever sorts a whole group.

    Plan: (1) one aggregate learns per-group approx priority quantiles
    (n_buckets-1 cut points); (2) every row gets an order-preserving bucket
    id (bucket(a) <= bucket(b) whenever priority(a) >= priority(b), equal
    priorities share a bucket, NULL priorities take the final bucket to
    match DESC NULLS LAST); (3) a per-(group, bucket) token-sum aggregate —
    groups x buckets rows, tiny — finds which buckets start before the
    budget is exhausted: a bucket whose preceding-buckets token total
    already exceeds the budget cannot contribute a kept row (token counts
    are non-negative, so the running total is monotone across buckets);
    (4) the surviving bucket-prefix — ~budget_tokens worth of rows plus at
    most one boundary bucket — goes through the exact single-window pass.

    The pre-filter only discards rows the exact algorithm would discard,
    and the survivors form a sort-order prefix of each group, so the
    windowed ``cum_tokens`` over survivors equals the full-group value:
    bit-identical output. Worst case (every priority equal → one bucket)
    degrades to the reference plan, never to a wrong answer.

    Requires non-negative token counts (true for any token-count column)
    and a NUMERIC priority: the quantile pre-filter rests on
    ``percentile_approx``, which only accepts numeric input, whereas the
    single-window reference accepts any orderable expression (e.g. a
    string). A non-numeric priority fails fast here — fall back to
    :func:`token_budget_select` for those.
    """
    from pyspark.sql import Window
    from pyspark.sql.functions import broadcast
    from pyspark.sql.types import NumericType

    if n_buckets < 2:  # no cut points to learn — the reference IS this plan
        return token_budget_select(
            df, group_col, priority_col, token_col, id_col, budget_tokens
        )
    pri = F.col(priority_col) if isinstance(priority_col, str) else priority_col
    tok = F.col(token_col) if isinstance(token_col, str) else token_col
    quantiles = [i / n_buckets for i in range(1, n_buckets)]

    staged = df.withColumn("__pri", pri).withColumn(
        "__tok", tok.cast("bigint")
    )
    pri_type = staged.schema["__pri"].dataType
    if not isinstance(pri_type, NumericType):
        raise TypeError(
            "token_budget_select_bounded needs a numeric priority column "
            f"(got {pri_type.simpleString()}); use token_budget_select for "
            "non-numeric orderable priorities"
        )
    bounds = staged.groupBy(group_col).agg(
        F.percentile_approx("__pri", quantiles).alias("__bounds")
    )
    # order-preserving bucket id: count of cut points >= this priority
    in_bucket = F.aggregate(
        F.col("__bounds"),
        F.lit(0),
        lambda acc, b: acc + F.when(F.col("__pri") <= b, 1).otherwise(0),
    )
    bucketed = staged.join(broadcast(bounds), group_col).withColumn(
        "__bucket",
        F.when(F.col("__pri").isNull(), F.lit(n_buckets)).otherwise(in_bucket),
    )
    per_bucket = bucketed.groupBy(group_col, "__bucket").agg(
        F.sum("__tok").alias("__btok")
    )
    wb = (
        Window.partitionBy(group_col)
        .orderBy("__bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    live = (
        per_bucket.withColumn(
            "__before", F.sum("__btok").over(wb) - F.col("__btok")
        )
        .filter(F.col("__before") <= budget_tokens)
        .select(group_col, "__bucket")
    )
    survivors = bucketed.join(broadcast(live), [group_col, "__bucket"])
    w = (
        Window.partitionBy(group_col)
        .orderBy(F.col("__pri").desc(), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        survivors.withColumn("cum_tokens", F.sum("__tok").over(w))
        .filter(F.col("cum_tokens") <= budget_tokens)
        # The bounds join moved group_col to the front; restore the input
        # column order so this variant is positionally interchangeable
        # with token_budget_select.
        .select(*df.columns, "cum_tokens")
    )


def domain_mixture_weights(
    df: DataFrame,
    group_col: str,
    token_col: Column | str,
    target_shares: dict[str, float] | None = None,
    weight_cap: float = 10.0,
) -> DataFrame:
    """Per-domain sampling weights that reshape the corpus token
    distribution toward ``target_shares`` (default: uniform over observed
    domains) — the DoReMi-style "domain reweighting" bookkeeping step,
    computed exactly from one aggregation pass.

    weight = min(target_share / actual_token_share, weight_cap); a domain
    over-represented relative to target gets weight < 1 (downsample), an
    under-represented one gets weight > 1 (upsample, capped so a tiny
    domain cannot explode its repetition factor).

    Scale shape: one groupBy(group) token sum (map-side partial agg), then
    a broadcast join against the single-row global total — no second
    shuffle of the data. Output is one row per domain (tiny).
    """
    tok = F.col(token_col) if isinstance(token_col, str) else token_col
    per_group = df.groupBy(group_col).agg(
        F.count("*").alias("n_docs"),
        F.sum(tok.cast("bigint")).alias("group_tokens"),
    )
    totals = per_group.agg(
        F.sum("group_tokens").alias("total_tokens"),
        F.count("*").alias("n_groups"),
    )
    joined = per_group.crossJoin(F.broadcast(totals))
    share = F.col("group_tokens") / F.col("total_tokens")
    if target_shares is None:
        target = F.lit(1.0) / F.col("n_groups")
    else:
        target = None
        for value, s in target_shares.items():
            branch = (
                F.when(F.col(group_col) == value, F.lit(float(s)))
                if target is None
                else target.when(F.col(group_col) == value, F.lit(float(s)))
            )
            target = branch
        target = target.otherwise(F.lit(0.0))
    return joined.select(
        group_col,
        "n_docs",
        "group_tokens",
        share.alias("token_share"),
        target.alias("target_share"),
        F.least(target / share, F.lit(float(weight_cap))).alias("weight"),
    )


def weighted_sample_without_replacement(
    df: DataFrame,
    group_col: str,
    weight_col: Column | str,
    id_col: str,
    k: int,
    seed: int = 42,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement, ``k`` rows per
    group — the distributed form of weighted reservoir sampling
    (Efraimidis & Spirakis, "Weighted random sampling with a reservoir",
    IPL 2006, algorithm A-ES): give every row the key u^(1/w) with
    u ~ Uniform(0,1) and keep the top-k keys. Ranking by ln(u)/w descending
    is the same order without the overflow-prone power.

    The uniform draw is a pure function of (id, seed) via the cross-engine
    md5 rolling hash (same family as ``shard_assignment``), so the sample
    is reproducible across runs, partitionings, and engines — and a SQL
    oracle can replay the exact selection. Weights must be > 0 — enforced:
    a null or non-positive weight raises from inside the scan rather than
    silently reordering the selection.

    Scale shape: one window exchange on ``group_col``; top-k per group
    never materializes more than the group's rows, and with AQE the
    rank-filter pushes a partial TakeOrdered into the map side. This is
    the quality-weighted corpus subsample step (e.g. sampling documents
    proportionally to a quality score without duplication).
    """
    from pyspark.sql import Window

    from databricks_etl_pipelines_spark.functions.textfns import (
        fingerprint_rolling,
    )

    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    bucket = fingerprint_rolling(
        F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f":{seed}")))
    ) % 1_000_000
    u = (bucket + 1) / F.lit(1_000_001.0)
    # Fail fast on non-positive weights instead of silently corrupting the
    # sample: w=0 makes the A-ES key null (rows quietly sort last), w<0
    # INVERTS the preference order. raise_error surfaces the first bad row
    # from inside the distributed scan — no extra validation pass.
    w_checked = F.when(
        w > 0, w
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "weighted_sample_without_replacement: weights must be "
                    "> 0, got "
                ),
                F.coalesce(w.cast("string"), F.lit("NULL")),
            )
        )
    )
    key = F.log(u) / w_checked
    win = Window.partitionBy(group_col).orderBy(
        F.desc("__es_key"), F.col(id_col)
    )
    return (
        df.withColumn("__es_key", key)
        .withColumn("sample_rank", F.row_number().over(win).cast("bigint"))
        .where(F.col("sample_rank") <= k)
        .drop("__es_key")
    )


def prepare_pretraining_corpus(
    docs: DataFrame,
    target_pred: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    min_quality: int = 90,
    span_n: int = 8,
    max_span_fraction: float = 0.5,
    budget_tokens: int = 2_000,
    n_buckets: int = 64,
) -> tuple[DataFrame, DataFrame]:
    """The round-4 pipeline end to end — what a user actually runs to turn
    a raw crawl into a training mix. Returns (selected, report).

    Stages, in order, each the already-tested operator underneath:
      1. PII scrub (functions/privacy.py): redact emails/phones in place.
      2. Quality gate: rubric score ≥ ``min_quality`` on the SCRUBBED
         text (scrubbing can only change token stats it touched).
      3. Exact dedup: one survivor (min id) per normalized-text hash.
      4. Span gate: drop documents whose duplicated-8-gram coverage
         exceeds ``max_span_fraction`` (computed on the POST-dedup corpus,
         so surviving boilerplate — not removed copies — drives the cut).
      5. DSIR budget selection: importance weights against
         ``target_pred``'s slice (profile built FROM the survivors), then
         each source's ``budget_tokens`` filled in per-token-weight order.

    report: one row per stage with rows_in / rows_out / rows_dropped —
    the funnel the run is judged by, every count driver-bounded scalars
    (same idiom as ``curate_corpus``).
    """
    from databricks_etl_pipelines_spark.functions.privacy import (
        scrub_text_pii,
    )
    from databricks_etl_pipelines_spark.operators.dedup import (
        duplicated_span_report,
        exact_dedup,
    )

    scrubbed = docs.withColumn(text_col, scrub_text_pii(text_col))
    q_pred = quality_score(text_col) >= min_quality
    # ONE aggregated pass for total + gate survivors (r16, guide §2.4 —
    # the curate_corpus idiom this docstring already claims): the old
    # separate scrubbed.count() / gated.count() each paid a full corpus
    # scan for one scalar.
    gate_agg = scrubbed.agg(
        F.count("*").alias("t"), F.sum(q_pred.cast("long")).alias("g")
    )
    gated = scrubbed.where(q_pred)
    unique = exact_dedup(gated, text_col, id_col).persist()
    # Overlap the independent gate-count scan with the dedup cache
    # materialization (r16, guide §2.6): same scalars, same semantics,
    # the second job back-fills the first one's tail. The callables
    # inherit the caller's job group and tags, as in curate_corpus.
    inherit = inheritable_thread_target(unique.sparkSession)
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_gates = pool.submit(inherit(gate_agg.first))
        f_exact = pool.submit(inherit(unique.count))
        row = f_gates.result()
        n_exact = f_exact.result()
    total, n_gate = row["t"] or 0, row["g"] or 0
    spans = duplicated_span_report(unique, text_col, id_col, n=span_n)
    keep_ids = spans.where(
        F.col("dup_fraction") <= max_span_fraction
    ).select(id_col)
    # invocation-scoped pin (r15; strategy conf-gated r16)
    span_ok = unique.join(keep_ids, id_col, "left_semi").transform(
        invocation_pin
    )
    n_span = span_ok.count()
    # span_ok is materialized now; the dedup stage's cache is no longer
    # reachable from anything returned
    unique.unpersist()
    weights = dsir_importance_weights(
        span_ok, text_col, id_col, target_pred, n_buckets
    )
    scored = weights.join(span_ok.select(id_col, source_col), id_col)
    selected = token_budget_select(
        scored, source_col, "dsir_weight_per_token", "n_tokens", id_col,
        budget_tokens,
    )
    n_sel = selected.count()
    report = docs.sparkSession.createDataFrame(
        [
            ("input", total, total, 0),
            ("pii_scrub", total, total, 0),
            ("quality_gate", total, n_gate, total - n_gate),
            ("exact_dedup", n_gate, n_exact, n_gate - n_exact),
            ("span_gate", n_exact, n_span, n_exact - n_span),
            ("dsir_budget_select", n_span, n_sel, n_span - n_sel),
        ],
        "stage string, rows_in bigint, rows_out bigint, rows_dropped bigint",
    )
    return selected, report


def source_token_divergence(
    df: DataFrame,
    group_col: str,
    text_col: str,
    n_buckets: int = 64,
) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between the hashed-unigram token
    distributions of every two corpus slices — the mixture-design
    diagnostic that says WHICH domains are linguistically close (candidates
    to merge or reweight together) vs disjoint. Smoothed add-one over
    ``n_buckets`` hashed features, so zero-overlap buckets stay finite;
    JSD is symmetric and bounded by ln 2.

    Scale shape: one token pass into (group, bucket) counts, densified on
    a (groups × n_buckets) grid (tiny), then a pair self-join of that
    GRID — never of the corpus. Cost after the first aggregate is
    O(groups² · n_buckets) on broadcast-sized frames.
    """
    from databricks_etl_pipelines_spark.operators.dedup import (
        _spread_input,
        crossengine_feature_hash,
    )

    toks = _bucketed_by_vocab(
        _spread_input(df).select(
            F.col(group_col).alias("g"),
            F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("w"),
        ),
        n_buckets,
    )
    counts = toks.groupBy("g", "b").agg(F.count("*").alias("c"))
    totals = counts.groupBy("g").agg(F.sum("c").alias("tot"))
    grid = (
        totals.crossJoin(
            F.broadcast(
                toks.sparkSession.range(n_buckets).select(
                    F.col("id").cast("bigint").alias("b")
                )
            )
        )
        .join(counts, ["g", "b"], "left")
        .select(
            "g", "b", "tot",
            ((F.coalesce(F.col("c"), F.lit(0)) + 1)
             / (F.col("tot") + n_buckets)).alias("p"),
        )
    )
    a = grid.select(
        F.col("g").alias("source_a"), "b",
        F.col("p").alias("pa"), F.col("tot").alias("tokens_a"),
    )
    bb = grid.select(
        F.col("g").alias("source_b"), "b",
        F.col("p").alias("pb"), F.col("tot").alias("tokens_b"),
    )
    m = (F.col("pa") + F.col("pb")) / 2
    term = 0.5 * F.col("pa") * F.log(F.col("pa") / m) + 0.5 * F.col(
        "pb"
    ) * F.log(F.col("pb") / m)
    from databricks_etl_pipelines_spark.functions.numeric import stable_round

    return (
        a.join(bb, "b")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.first("tokens_a").alias("tokens_a"),
            F.first("tokens_b").alias("tokens_b"),
            stable_round(F.sum(term), 6).alias("jsd"),
        )
    )


def dsir_importance_weights(
    df: DataFrame,
    text_col: str,
    id_col: str,
    target_pred: Column,
    n_buckets: int = 64,
) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR — Xie et al.,
    "Data Selection for Language Models via Importance Resampling",
    NeurIPS 2023): score every raw document by how target-like its hashed
    token distribution is. ``target_pred`` marks the in-domain rows (the
    quality/target corpus); the weight of doc d with hashed-token counts
    c_b is

        w(d) = Σ_b c_b · [ln p̂_target(b) − ln p̂_raw(b)]

    with add-one-smoothed bucket probabilities over ``n_buckets`` hashed
    token features. High-weight docs look like the target domain; a
    downstream pass feeds the weights to top-k / Gumbel resampling
    (``token_budget_select`` covers the budgeted-cut step here).

    Scale shape: one explode pass over tokens, two bucket-sized aggregates
    (n_buckets rows — broadcast), one (doc, bucket) aggregate bounded by
    n_docs·n_buckets, then a broadcast join of the log-ratios. No shuffle
    carries more than one row per (doc, bucket). The token hash is the
    md5+Karp-Rabin cross-engine family so a SQL oracle replays every
    bucket assignment exactly; at 100 TB you'd swap in xxhash64 (same
    shape, 10× cheaper hashing).
    """
    # One hashing pass over the corpus: aggregate straight to (doc, bucket)
    # counts, then derive BOTH the bucket profile (a rollup of that
    # aggregate — n_buckets rows) and the per-doc scores from it. The
    # md5+Karp-Rabin feature hash is ~the whole cost of this operator, so
    # branching the raw token frame into profile and scoring plans (which
    # recomputes the hash per branch) would double the work for nothing.
    # Pinned (r15): doc_bucket feeds BOTH the bucket profile rollup and
    # the per-doc scoring join; Catalyst re-derives a referenced subtree
    # per consumer, so unpinned the md5 feature-hash pass (the dominant
    # cost) ran twice. Lazy localCheckpoint materializes the ≤
    # n_docs·n_buckets-row aggregate once inside the consumer's action
    # and is invocation-scoped — a later run rebuilds from parquet
    # (a session persist would leak into a bench's warm re-run through
    # plan-fragment matching).
    doc_bucket = (
        _dsir_bucketed_tokens(
            df.withColumn("__is_target", target_pred), text_col, id_col,
            n_buckets, extra_cols=("__is_target",),
        )
        .groupBy(id_col, "b", "__is_target")
        .agg(F.count("*").alias("c"))
    ).transform(invocation_pin)
    grouped = doc_bucket.groupBy("b").agg(
        F.sum("c").alias("n_raw"),
        F.sum(F.when(F.col("__is_target"), F.col("c")).otherwise(0)).alias(
            "n_tgt"
        ),
    )
    ratios = _dsir_ratios_from_counts(grouped, n_buckets)
    return _dsir_weights_from_doc_bucket(doc_bucket, ratios, id_col)


def _bucketed_by_vocab(toks, n_buckets: int):
    """Attach the cross-engine feature-hash bucket to an exploded token
    frame (column ``w``) by hashing the DISTINCT vocabulary once and
    joining it back (r15): the md5 rolling hash costs orders of
    magnitude more per row than the explode, and words repeat, so
    per-instance hashing paid the hash cost times the corpus's
    instances-per-word ratio for identical bucket assignments. The join
    strategy is AQE's choice (r16, closes the r15 ADVICE guard item):
    the distinct already shuffles, so AQE sees the vocabulary's REAL
    size — it broadcasts while the vocab fits the threshold and
    degrades to a shuffle join on the token column on an
    open-vocabulary corpus, instead of an unconditional broadcast
    collecting unbounded data to the driver (8 GB hard cap / OOM).
    Same values either way."""
    from databricks_etl_pipelines_spark.operators.dedup import (
        crossengine_feature_hash,
    )

    vocab = toks.select("w").distinct().withColumn(
        "b", F.pmod(crossengine_feature_hash(F.col("w")), F.lit(n_buckets))
    )
    return toks.join(vocab, "w")


def _dsir_bucketed_tokens(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_buckets: int,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    from databricks_etl_pipelines_spark.operators.dedup import (
        _spread_input,
        crossengine_feature_hash,
    )

    # The md5 feature hash costs far more CPU per byte than the scan; a
    # single-file table would pin the whole chain to one core (see
    # dedup.py:_spread_input — a no-op on real multi-split scans).
    return _bucketed_by_vocab(
        _spread_input(df).select(
            F.col(id_col),
            *[F.col(c) for c in extra_cols],
            F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("w"),
        ),
        n_buckets,
    )


def _dsir_ratios_from_counts(grouped: DataFrame, n_buckets: int) -> DataFrame:
    """(b, n_raw, n_tgt) → (b, log_ratio) with add-one smoothing; totals
    come from the same bucket-sized aggregate (no extra corpus pass).

    The profile is DENSIFIED to every bucket 0..n_buckets-1: a scored
    batch (``dsir_score`` / the streaming flavor) may contain tokens
    whose bucket the reference corpus never produced, and those must get
    the smoothed unseen ratio — not silently vanish in the score join.
    """
    totals = grouped.agg(
        F.sum("n_raw").alias("total_raw"), F.sum("n_tgt").alias("total_tgt")
    )
    all_buckets = grouped.sparkSession.range(n_buckets).select(
        F.col("id").cast("bigint").alias("b")
    )
    dense = all_buckets.join(grouped, "b", "left").select(
        "b",
        F.coalesce(F.col("n_raw"), F.lit(0)).alias("n_raw"),
        F.coalesce(F.col("n_tgt"), F.lit(0)).alias("n_tgt"),
    )
    return (
        dense.crossJoin(F.broadcast(totals))
        .select(
            "b",
            (
                F.log((F.col("n_tgt") + 1) / (F.col("total_tgt") + n_buckets))
                - F.log((F.col("n_raw") + 1) / (F.col("total_raw") + n_buckets))
            ).alias("log_ratio"),
        )
    )


def _dsir_weights_from_doc_bucket(
    doc_bucket: DataFrame, ratios: DataFrame, id_col: str
) -> DataFrame:
    from databricks_etl_pipelines_spark.functions.numeric import stable_round

    return (
        doc_bucket.join(F.broadcast(ratios), "b")
        .groupBy(id_col)
        .agg(
            F.sum("c").alias("n_tokens"),
            stable_round(F.sum(F.col("c") * F.col("log_ratio")), 6).alias(
                "dsir_weight"
            ),
            # Length-normalized form: the raw weight is additive over
            # tokens, so a long document accumulates penalty/bonus with its
            # length — comparable cuts across mixed lengths rank on the
            # mean per-token log-ratio instead.
            stable_round(
                F.sum(F.col("c") * F.col("log_ratio")) / F.sum("c"), 6
            ).alias("dsir_weight_per_token"),
        )
    )


def dsir_log_ratios(
    df: DataFrame,
    text_col: str,
    target_pred: Column,
    n_buckets: int = 64,
) -> DataFrame:
    """The DSIR domain PROFILE: per-bucket smoothed log-likelihood ratios
    (n_buckets rows). Build once from the reference corpus, broadcast to
    score any number of candidate documents or stream batches. One hashing
    pass: raw and target counts come out of a single conditional
    aggregate, never two branches over the token frame."""
    from databricks_etl_pipelines_spark.operators.dedup import (
        _spread_input,
        crossengine_feature_hash,
    )

    toks = _bucketed_by_vocab(
        _spread_input(df).select(
            target_pred.alias("is_target"),
            F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("w"),
        ),
        n_buckets,
    )
    grouped = toks.groupBy("b").agg(
        F.count("*").alias("n_raw"),
        F.sum(F.col("is_target").cast("long")).alias("n_tgt"),
    )
    return _dsir_ratios_from_counts(grouped, n_buckets)


def dsir_score(
    df: DataFrame,
    ratios: DataFrame,
    text_col: str,
    id_col: str,
    n_buckets: int = 64,
) -> DataFrame:
    """Score documents against a prebuilt DSIR profile (broadcast join of
    the bucket log-ratios; one (doc, bucket) aggregate per input)."""
    doc_bucket = (
        _dsir_bucketed_tokens(df, text_col, id_col, n_buckets)
        .groupBy(id_col, "b")
        .agg(F.count("*").alias("c"))
    )
    return _dsir_weights_from_doc_bucket(doc_bucket, ratios, id_col)


def mixture_epoch_plan(
    df: DataFrame,
    group_col: str,
    token_col: Column | str,
    id_col: str,
    target_shares: dict[str, float],
    seed: int = 42,
    max_epochs: int = 8,
) -> DataFrame:
    """Materialize mixture weights into an EPOCH PLAN — the step after
    :func:`domain_mixture_weights` that actually emits the training rows:
    a domain with repetition factor f sees each of its documents
    floor(f) full epochs, plus one extra epoch for the deterministic-hash
    fraction (f - floor(f)) of its documents. Output is one row per
    (document, epoch): exactly the sampling-with-replacement schedule a
    loader consumes, reproducible across runs, cluster sizes, and engines
    (the fractional-epoch membership is the same cross-engine md5 rolling
    hash as :func:`shard_assignment`, NOT a random draw).

    f_g = (target_share_g * total_tokens) / group_tokens_g, capped at
    ``max_epochs`` so a tiny domain cannot explode its repetition count
    (the same guard as ``domain_mixture_weights``'s weight_cap).

    Scale shape: one groupBy(group) token aggregate + a broadcast join of
    the per-group plan (groups x 3 numbers) back onto the corpus, then an
    output-bound explode — no shuffle of the fact rows at all.
    """
    from databricks_etl_pipelines_spark.functions.textfns import (
        fingerprint_rolling,
    )

    tok = F.col(token_col) if isinstance(token_col, str) else token_col
    base = df.select(
        F.col(id_col),
        F.col(group_col),
        tok.cast("bigint").alias("n_tokens"),
    )
    per_group = base.groupBy(group_col).agg(
        F.sum("n_tokens").alias("__gtok")
    )
    totals = per_group.agg(F.sum("__gtok").alias("__ttok"))
    target = None
    for value, sh in target_shares.items():
        branch = (
            F.when(F.col(group_col) == value, F.lit(float(sh)))
            if target is None
            else target.when(F.col(group_col) == value, F.lit(float(sh)))
        )
        target = branch
    target = target.otherwise(F.lit(0.0))
    # op order pinned for oracle parity: (share * total) / group
    f = (target * F.col("__ttok")) / F.col("__gtok")
    plan = (
        per_group.crossJoin(F.broadcast(totals))
        .select(
            group_col,
            F.floor(f).cast("bigint").alias("__full"),
            # explicit floor: Spark casts by truncation, DuckDB rounds
            # half-even — floor() agrees everywhere
            F.floor((f - F.floor(f)) * 1_000_000)
            .cast("bigint")
            .alias("__th"),
        )
    )
    return _materialize_epochs(base, plan, group_col, id_col, seed, max_epochs)


def _materialize_epochs(
    base: DataFrame,
    plan: DataFrame,
    group_col: str,
    id_col: str,
    seed: int,
    max_epochs: int,
) -> DataFrame:
    """Shared epoch-schedule materialization: ``plan`` carries one row per
    group with ``__full`` (whole epochs) and ``__th`` (fractional-epoch
    hash threshold in millionths); the output is one row per (document,
    epoch), with the fractional epoch decided by the cross-engine md5
    rolling hash of (id, seed) — a pure function, never an RNG draw."""
    from databricks_etl_pipelines_spark.functions.textfns import (
        fingerprint_rolling,
    )

    bucket = fingerprint_rolling(
        F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f":{seed}")))
    ) % 1_000_000
    n_epochs = F.least(
        F.col("__full")
        + F.when(bucket < F.col("__th"), F.lit(1)).otherwise(F.lit(0)),
        F.lit(int(max_epochs)),
    )
    return (
        base.join(F.broadcast(plan), group_col)
        .withColumn("n_epochs", n_epochs)
        # sequence(0, -1) would yield a DESCENDING [0, -1] in Spark, not
        # an empty array — excluded documents must be filtered, not
        # exploded
        .filter(F.col("n_epochs") > 0)
        .select(
            id_col,
            group_col,
            "n_tokens",
            F.explode(
                F.sequence(F.lit(0), (F.col("n_epochs") - 1).cast("int"))
            ).alias("epoch"),
        )
    )


def temperature_epoch_plan(
    df: DataFrame,
    group_col: str,
    token_col: Column | str,
    id_col: str,
    seed: int = 42,
    max_epochs: int = 8,
) -> DataFrame:
    """Temperature-smoothed multilingual resampling at alpha = 0.5 — the
    exponent XLM (Lample & Conneau 2019) uses, the same smoothing family
    mT5/XLM-R apply (alpha 0.3/0.2): group g is sampled with probability
    proportional to ``n_g^alpha``, boosting low-resource groups (which
    repeat epochs) and damping high-resource ones, at a CONSTANT total
    token budget (sum over groups of f_g·n_g = total corpus tokens).

    alpha is pinned to 0.5 deliberately: n^0.5 is ``sqrt``, the one power
    IEEE 754 requires to be correctly rounded — so the smoothed weights
    are bit-identical on any engine, where a general ``pow(n, 0.3)`` is
    libm-dependent and could flip a floor() boundary between Spark and
    the SQL oracle. The weight normalizer is folded in GROUP-NAME order
    (sorted struct array, strict left fold), never a float SUM whose
    value depends on visit order.

    The repetition factor f_g = (sqrt(n_g)/W · total)/n_g is materialized
    into the (document, epoch) loader schedule by the same machinery as
    :func:`mixture_epoch_plan`: floor(f) whole epochs plus one extra for
    the deterministic-hash fraction of documents, capped at
    ``max_epochs``.

    Scale shape: one groupBy(group) token aggregate; the normalizer is a
    single-row fold over the per-group rows (bounded by the number of
    groups — languages/sources, never corpus-sized); the plan broadcasts
    back onto the corpus with an output-bound explode. No shuffle of the
    fact rows at all.
    """
    tok = F.col(token_col) if isinstance(token_col, str) else token_col
    base = df.select(
        F.col(id_col),
        F.col(group_col),
        tok.cast("bigint").alias("n_tokens"),
    )
    per_group = base.groupBy(group_col).agg(
        F.sum("n_tokens").alias("__gtok")
    )
    # Normalizer W = sum over groups of sqrt(n_g), folded in group-name
    # order so the double is engine-exact (a plain SUM would be
    # visit-order-dependent). Bounded: one struct per group.
    norm = per_group.agg(
        F.aggregate(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col(group_col).alias("g"),
                        F.sqrt(F.col("__gtok").cast("double")).alias("w"),
                    )
                )
            ),
            F.lit(0.0),
            lambda acc, x: acc + x["w"],
        ).alias("__W"),
        F.sum("__gtok").alias("__ttok"),
    )
    # op order pinned for oracle parity: ((sqrt(n_g) / W) * total) / n_g
    f = (
        (F.sqrt(F.col("__gtok").cast("double")) / F.col("__W"))
        * F.col("__ttok")
    ) / F.col("__gtok")
    plan = (
        per_group.crossJoin(F.broadcast(norm))
        .select(
            group_col,
            F.floor(f).cast("bigint").alias("__full"),
            # explicit floor: Spark casts by truncation, DuckDB rounds
            # half-even — floor() agrees everywhere
            F.floor((f - F.floor(f)) * 1_000_000)
            .cast("bigint")
            .alias("__th"),
        )
    )
    return _materialize_epochs(base, plan, group_col, id_col, seed, max_epochs)


def perplexity_buckets(
    df: DataFrame,
    text_col: str,
    id_col: str,
    group_col: str,
    scale_bits: int = 12,
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): score every
    document by its unigram-LM surprisal (LM = the corpus itself), then
    split EACH language into head / middle / tail terciles — the quality
    gradient CCNet uses to keep the head and drop or downweight the tail.

    Determinism recipe (why an avg-of-logs ranking can be cross-engine
    exact): per-word surprisal is quantized to the 2^-scale_bits lattice
    — ``floor(-ln(c/total) · 2^scale_bits)`` as BIGINT — and summed as
    INTEGERS per document, so the per-doc score is independent of
    partitioning and visit order (a float mean would not be). The doc
    score is then one IEEE division floor(qsum / n_tokens), identical in
    Spark and DuckDB. The only engine-sensitive op left is ln itself
    (libm vs java.lang.Math may differ in the last ulp); at the 2^-12
    lattice a flip needs ln(c/total)·4096 within ~1e-12 of an integer —
    negligible across the bounded set of distinct counts, and noted here
    so a future Spark/DuckDB upgrade that moves ln by an ulp is
    recognized as environment drift, not an operator bug.

    Tercile cutoffs come from a cumulative count over the per-(group,
    score) HISTOGRAM — never a corpus-sized window: the partitionless
    risk is bounded by the number of distinct quantized scores per group
    (≤ a few thousand lattice points), which is also what keeps the
    shape 100 TB-viable where a per-language row_number() over all
    documents would funnel a language's whole corpus into one partition.
    Cutoff rule (ties land LOW, CCNet-style value cutoffs): head iff
    score ≤ c1, middle iff score ≤ c2, where c_k is the smallest score
    whose cumulative count reaches k/3 of the group (3·cum ≥ k·n in
    exact integers).

    Returns (id, group, n_tokens, q_surprisal, bucket).
    """
    scores = perplexity_word_scores(df, text_col, scale_bits)
    # Pinned (r15): per_doc feeds the cutoff histogram AND the labeler —
    # unpinned, the tokenize + LM join + per-doc aggregate (and the
    # word-score subchain beneath it) re-derived per consumer (12 parquet
    # scans compiled). One row per document; invocation-scoped.
    per_doc = perplexity_score(
        df, scores, text_col, id_col, group_col
    ).transform(invocation_pin)
    cuts = perplexity_cutoffs(per_doc, group_col)
    return perplexity_label(per_doc, cuts, id_col, group_col)


def perplexity_word_scores(
    df: DataFrame, text_col: str = "text", scale_bits: int = 12
) -> DataFrame:
    """The LM half of :func:`perplexity_buckets` as a standalone relation
    (word → integer-lattice surprisal), so continuous-ingest callers can
    build the profile ONCE from a reference corpus and score every
    arriving batch against it. Vocabulary-sized — a table to equi-join
    (AQE broadcasts it while small), never required to fit the driver."""
    from databricks_etl_pipelines_spark.functions.textfns import tokens

    scale = float(1 << scale_bits)
    freq = (
        df.select(F.explode(tokens(text_col)).alias("__w"))
        .groupBy("__w")
        .agg(F.count("*").alias("__c"))
    )
    total = freq.agg(F.sum("__c").alias("__t"))
    return freq.crossJoin(F.broadcast(total)).select(
        "__w",
        F.floor(-F.log(F.col("__c") / F.col("__t")) * F.lit(scale))
        .cast("bigint")
        .alias("__qs"),
    )


def perplexity_score(
    docs: DataFrame,
    word_scores: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "lang",
) -> DataFrame:
    """Per-document lattice surprisal against a prebuilt word-score
    relation: one explode, one equi-join on the word, one aggregate.
    Stateless per document — which is what makes the streaming flavor's
    drained union equal the batch result exactly. Words outside the
    profile are ignored (inner join): the profile defines the LM's
    vocabulary, as in CCNet's fixed reference model."""
    from databricks_etl_pipelines_spark.functions.textfns import tokens

    words = docs.select(
        F.col(id_col),
        F.col(group_col),
        F.explode(tokens(text_col)).alias("__w"),
    )
    return (
        words.join(word_scores, "__w")
        .groupBy(id_col, group_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("__qs").alias("__qsum"),
        )
        .select(
            id_col,
            group_col,
            "n_tokens",
            F.floor(F.col("__qsum") / F.col("n_tokens"))
            .cast("bigint")
            .alias("q_surprisal"),
        )
    )


def perplexity_cutoffs(per_doc: DataFrame, group_col: str) -> DataFrame:
    """Per-group tercile cutoffs from the bounded (group, score)
    histogram — never a corpus-sized window (see the
    :func:`perplexity_buckets` docstring for the rule and the bound)."""
    from pyspark.sql import Window

    hist = per_doc.groupBy(group_col, "q_surprisal").agg(
        F.count("*").alias("__hc")
    )
    # cumulative over the bounded histogram (≤ distinct lattice scores
    # per group), NOT over documents
    w_cum = (
        Window.partitionBy(group_col)
        .orderBy("q_surprisal")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(group_col)
    marked = (
        hist.withColumn("__cum", F.sum("__hc").over(w_cum))
        .withColumn("__n", F.sum("__hc").over(w_all))
    )
    return marked.groupBy(group_col).agg(
        F.min(
            F.when(F.col("__cum") * 3 >= F.col("__n"), F.col("q_surprisal"))
        ).alias("__c1"),
        F.min(
            F.when(
                F.col("__cum") * 3 >= F.col("__n") * 2, F.col("q_surprisal")
            )
        ).alias("__c2"),
    )


def perplexity_label(
    per_doc: DataFrame,
    cuts: DataFrame,
    id_col: str = "doc_id",
    group_col: str = "lang",
) -> DataFrame:
    """Attach head/middle/tail labels from prebuilt cutoffs (broadcast:
    one row per group). Ties land LOW — CCNet-style value cutoffs."""
    return per_doc.join(F.broadcast(cuts), group_col).select(
        id_col,
        group_col,
        "n_tokens",
        "q_surprisal",
        F.when(F.col("q_surprisal") <= F.col("__c1"), F.lit("head"))
        .when(F.col("q_surprisal") <= F.col("__c2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


def source_overlap(
    df: DataFrame,
    group_col: str,
    fingerprint_col: Column | str,
) -> DataFrame:
    """Pairwise content overlap between corpus slices (sources, snapshots,
    crawl dumps): for every unordered pair of groups, the number of
    distinct fingerprints in each, in common, and their exact Jaccard.

    The cross-corpus contamination / provenance diagnostic: "how much of
    source B is already in source A?" drives both dedup priority and
    mixture accounting.

    Scale shape: distinct (group, fp) is one hash-agg shuffle keyed on the
    16-byte fingerprint; the intersection self-join is an equi-join ON THE
    FINGERPRINT (never group×group row pairs), so its cost tracks the
    number of cross-group duplicate fingerprints, not corpus size squared.
    Per-group distinct counts are a tiny aggregate broadcast onto the pair
    grid, which enumerates group pairs (a handful) — zero-overlap pairs are
    therefore still reported.
    """
    fp = (
        F.col(fingerprint_col)
        if isinstance(fingerprint_col, str)
        else fingerprint_col
    )
    gf = df.select(F.col(group_col).alias("g"), fp.alias("fp")).distinct()
    counts = gf.groupBy("g").agg(F.count("*").alias("n_fp"))
    a = counts.select(F.col("g").alias("group_a"), F.col("n_fp").alias("fp_a"))
    b = counts.select(F.col("g").alias("group_b"), F.col("n_fp").alias("fp_b"))
    grid = a.crossJoin(b).filter(F.col("group_a") < F.col("group_b"))
    inter = (
        gf.alias("x")
        .join(gf.alias("y"), "fp")
        .filter(F.col("x.g") < F.col("y.g"))
        .groupBy(
            F.col("x.g").alias("group_a"), F.col("y.g").alias("group_b")
        )
        .agg(F.count("*").alias("fp_common"))
    )
    joined = grid.join(
        F.broadcast(inter), ["group_a", "group_b"], "left"
    ).withColumn("fp_common", F.coalesce("fp_common", F.lit(0)))
    union_sz = F.col("fp_a") + F.col("fp_b") - F.col("fp_common")
    return joined.select(
        "group_a",
        "group_b",
        "fp_a",
        "fp_b",
        "fp_common",
        (F.col("fp_common") / union_sz).alias("jaccard"),
    )


def corpus_drift_report(
    df_a: DataFrame,
    df_b: DataFrame,
    dims: list[str],
    token_col: Column | str,
) -> DataFrame:
    """Composition drift between two corpus snapshots (crawl N vs crawl
    N+1, or train mix vs eval mix): for every value of every ``dims``
    column, the doc counts and within-dimension token shares on each side
    and the share delta — the report that catches "the new snapshot is
    suddenly 30% one domain" before a training run does.

    Scale shape: each side is ONE scan — ``stack`` unpivots the dim
    columns in-row (no join, no second pass), then a (dim, key) aggregate;
    share normalization is a window over the tiny aggregate; the A-B
    comparison is a full-outer join of two aggregate-sized frames. Keys
    absent from one side surface with share 0, not silently dropped.
    """
    from pyspark.sql import Window

    tok = F.col(token_col) if isinstance(token_col, str) else token_col
    stack_expr = F.stack(
        F.lit(len(dims)),
        *[c for d in dims for c in (F.lit(d), F.col(d).cast("string"))],
    ).alias("dim", "key")

    def side(df: DataFrame) -> DataFrame:
        g = (
            df.select(stack_expr, tok.cast("bigint").alias("__tok"))
            .groupBy("dim", "key")
            .agg(F.count("*").alias("docs"), F.sum("__tok").alias("toks"))
        )
        dim_total = F.sum("toks").over(Window.partitionBy("dim"))
        return g.withColumn("share", F.col("toks") / dim_total)

    a, b = side(df_a), side(df_b)
    joined = a.alias("a").join(
        b.alias("b"),
        (F.col("a.dim") == F.col("b.dim")) & (F.col("a.key") == F.col("b.key")),
        "full_outer",
    )
    from databricks_etl_pipelines_spark.functions.numeric import stable_round

    share_a = F.coalesce(F.col("a.share"), F.lit(0.0))
    share_b = F.coalesce(F.col("b.share"), F.lit(0.0))
    return joined.select(
        F.coalesce(F.col("a.dim"), F.col("b.dim")).alias("dim"),
        F.coalesce(F.col("a.key"), F.col("b.key")).alias("key"),
        F.coalesce(F.col("a.docs"), F.lit(0)).alias("docs_a"),
        F.coalesce(F.col("b.docs"), F.lit(0)).alias("docs_b"),
        stable_round(share_a, 6).alias("token_share_a"),
        stable_round(share_b, 6).alias("token_share_b"),
        stable_round(share_b - share_a, 6).alias("share_delta"),
    )


def leakage_safe_split(
    df: DataFrame,
    text_col: str,
    id_col: str,
    test_fraction: float = 0.1,
    threshold: float = 0.5,
    shingle_k: int = 3,
    seed: int = 42,
    pair_fn=None,
) -> DataFrame:
    """Train/test split that cannot leak near-duplicates across the
    boundary: hash-split by DUPLICATE-CLUSTER, not by document.

    A plain hash split puts a document and its paraphrase on opposite
    sides ~2·f·(1-f) of the time — silent eval contamination. Here
    near-dup pairs feed connected components; every member of a
    component shares its ``group_key`` (the component's min id, the doc's
    own id for singletons), and the split is a pure function of
    (group_key, seed) via the cross-engine md5+rolling-hash bucket — so
    near-dups land together BY CONSTRUCTION, membership is reproducible
    across runs, cluster sizes, and engines, and the exact kept sets are
    differential-testable.

    Pair generation is pluggable exactly as in ``curate_corpus``:
    ``pair_fn(df, text_col, id_col, threshold)`` returns near-dup edges
    (id_a, id_b, ...). The default is the lossless prefix-filtered PPJoin
    (``ngram_jaccard_pairs``) — exact, oracle-replayable, correct at test
    scale. At 100 TB pass ``minhash_lsh_dedup_pairs``: PPJoin's output
    (and wall) grows with the true-pair count, which is quadratic in the
    copy multiplicity of replicated docs, while banded MinHash stays
    bounded by bucket co-occurrence (measured at 25× replicated rows:
    PPJoin 87 s vs MinHash 11.5 s). Both
    generators verify candidates with exact Jaccard ≥ threshold, so at any
    LSH parameterization with recall ~1 at the threshold the resulting
    components — and therefore the split — agree (pinned by
    tests/test_curation.py::test_leakage_split_pair_fn_agreement).

    Scale shape: pair generation is equi-join-based (never all-pairs),
    components are O(diameter) hash-min rounds over the PAIR graph
    (near-dup edges, a vanishing fraction of the corpus), and the split
    itself is one scan with a broadcast-sized cluster map joined on id.
    """
    from databricks_etl_pipelines_spark.functions.textfns import (
        fingerprint_rolling,
    )
    from databricks_etl_pipelines_spark.operators.components import (
        duplicate_clusters,
    )

    if pair_fn is None:
        pairs = ngram_jaccard_pairs(df, text_col, id_col, threshold, shingle_k)
    else:
        pairs = pair_fn(df, text_col, id_col, threshold)
    clusters = duplicate_clusters(pairs).withColumnRenamed("id", id_col)
    keyed = df.join(clusters, id_col, "left")
    group_key = F.coalesce(F.col("cluster_id"), F.col(id_col))
    bucket = fingerprint_rolling(
        F.md5(F.concat(group_key.cast("string"), F.lit(f":{seed}")))
    ) % 1_000_000
    split = F.when(bucket < int(test_fraction * 1_000_000), "test").otherwise(
        "train"
    )
    return (
        keyed.withColumn("group_key", group_key)
        .withColumn("split", split)
        .drop("cluster_id")
    )


def decontaminate_report(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram_n: int = 13,
    min_hits: int = 1,
) -> DataFrame:
    """Benchmark decontamination: per corpus document, how many DISTINCT
    word ``ngram_n``-grams it shares with an evaluation benchmark, and
    whether that crosses the contamination threshold.

    This is the standard pre-training hygiene stage (the GPT-3 paper's
    13-gram overlap scrub and The Pile's eval decontamination are the
    public references): training on text that overlaps the eval set
    inflates benchmarks silently, so every corpus build must scrub
    against every benchmark it will ever report. Distinct from
    ``leakage_safe_split`` (intra-corpus, symmetric, cluster-level):
    decontamination is ASYMMETRIC — the benchmark side is authoritative
    and tiny, the corpus side is the 100 TB feed — and uses n-gram
    CONTAINMENT counts, not Jaccard similarity.

    Scale shape: the benchmark's distinct n-gram set is eval-sized
    (thousands of docs), never corpus-sized, so it BROADCASTS; the
    corpus side sizes its distinct-shingle array BEFORE exploding and
    carries that through, so the whole report is ONE corpus scan — the
    per-doc length column never re-executes the (possibly expensive,
    uncached) upstream plan. The broadcast marker join never shuffles
    the corpus n-grams; the only shuffle is the per-doc aggregate,
    which map-side combines to at most one row per doc per partition.
    No corpus-side distinct, no all-pairs anything.

    Returns (id, n_ngrams, bench_hits, contaminated) for every corpus
    doc — callers filter ``~contaminated`` for the clean corpus or keep
    the report for audit.
    """
    return decontaminate_score(
        docs,
        benchmark_ngrams(benchmark, text_col, ngram_n),
        text_col,
        id_col,
        ngram_n,
        min_hits,
    )


def benchmark_ngrams(
    benchmark: DataFrame, text_col: str = "text", ngram_n: int = 13
) -> DataFrame:
    """The benchmark side of decontamination as a standalone relation
    (distinct word n-grams + a hit marker) so continuous-ingest callers
    can build it ONCE, persist it, and score every arriving batch
    against the same broadcast set."""
    from databricks_etl_pipelines_spark.functions.textfns import (
        distinct_shingles,
    )

    return (
        benchmark.select(
            F.explode(distinct_shingles(text_col, ngram_n)).alias("ng")
        )
        .distinct()
        .withColumn("bench_hit", F.lit(1))
    )


def decontaminate_score(
    docs: DataFrame,
    bench_ngrams: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram_n: int = 13,
    min_hits: int = 1,
) -> DataFrame:
    """Score ``docs`` against a prebuilt benchmark n-gram relation —
    the per-batch core shared by the batch report and the streaming
    admission path (streaming/structured.py::decontaminate_stream)."""
    from databricks_etl_pipelines_spark.functions.textfns import (
        distinct_shingles,
    )

    # ONE corpus scan: size the distinct-shingle array before exploding
    # and carry it through the explode; explode_outer keeps zero-shingle
    # docs (n_ngrams 0, null ng matches nothing on the left join).
    doc_ngrams = docs.select(
        F.col(id_col).alias("id"),
        distinct_shingles(text_col, ngram_n).alias("sh"),
    ).select(
        "id",
        F.size("sh").cast("bigint").alias("n_ngrams"),
        F.explode_outer("sh").alias("ng"),
    )
    return (
        doc_ngrams.join(F.broadcast(bench_ngrams), "ng", "left")
        .groupBy("id")
        .agg(
            F.max("n_ngrams").alias("n_ngrams"),
            F.count("bench_hit").cast("bigint").alias("bench_hits"),
        )
        .withColumn("contaminated", F.col("bench_hits") >= min_hits)
    )


def remove_boilerplate_passages(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    passage_size: int = 8,
    max_doc_frequency: int = 2,
) -> DataFrame:
    """Sub-document boilerplate REMOVAL — the rewrite stage that
    ``dedup_passages`` only reports on: split every document into
    non-overlapping ``passage_size``-word passages, compute each
    passage's corpus document-frequency, drop passages appearing in
    ``max_doc_frequency`` or more distinct documents, and reassemble
    the surviving passages IN ORIGINAL ORDER into the cleaned text.
    This is the public CCNet / C4 discipline (Wenzek et al. 2020 §4.1
    paragraph-level dedup): navigation chrome, license footers and
    templated headers repeat across documents whose full texts differ,
    so document-level dedup never sees them — the only fix is to cut
    the repeated unit itself and ship the rewritten document.

    Scale shape: one hash aggregate over md5(passage) (16-byte shuffle
    key, map-side partial agg) builds the document-frequency relation;
    one equi-join on the same key marks boilerplate; one groupBy(id)
    rebuilds each document from its kept passages via
    array_sort(collect_list(struct(pos, passage))) — per-group state is
    the document's own passages (bounded by document length, the same
    bound any per-doc text op carries), and collect_list skips the
    NULL-marked dropped passages for free. No all-pairs step anywhere.

    Returns (id, n_passages, n_dropped, clean_text); a fully-
    boilerplate document comes back with clean_text '' (callers filter
    on it), never NULL.
    """
    from databricks_etl_pipelines_spark.functions.textfns import (
        word_passages,
    )

    pas = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(word_passages(text_col, passage_size)).alias(
            "pos", "passage"
        ),
    ).withColumn("h", F.md5("passage"))
    boiler = (
        pas.groupBy("h")
        .agg(F.countDistinct("id").alias("df"))
        .filter(F.col("df") >= max_doc_frequency)
        .select("h", F.lit(1).alias("b"))
    )
    kept = F.when(F.col("b").isNull(), F.struct("pos", "passage"))
    return (
        pas.join(boiler, "h", "left")
        .groupBy("id")
        .agg(
            F.count("*").cast("bigint").alias("n_passages"),
            F.count("b").cast("bigint").alias("n_dropped"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept)),
                    lambda x: x["passage"],
                ),
                " ",
            ).alias("clean_text"),
        )
    )
