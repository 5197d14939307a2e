"""Similarity search over embedding columns.

Baseline: brute-force cosine top-k — a single scan + projection +
TakeOrderedAndProject; exact, and at 100 TB still embarrassingly parallel
(no shuffle, k·partitions rows to the driver). Every single-query top-k
here ends in that same tail (:func:`_cosine_topk`); only the candidate
set before it differs.

Scale paths: LSH bucketing (deterministic random-hyperplane signatures)
scans only the query's bucket; IVF coarse quantization scans only the
``nprobe`` inverted lists nearest the query. :class:`IvfIndex` is the one
persisted index: inverted lists written hive-partitioned by ``list_id``
plus a ``centroids.json`` of ``[[list_id, centroid], ...]``, built from
strided corpus centroids (cross-engine replayable), learned KMeans
centroids, or KMeans plus a product-quantization ``codes`` column
(IVFADC). One probe serves all three; small probes run on the driver.

A vectorized Pandas-UDF cosine (`pandas_cosine`) is provided for wide
vectors where Arrow+numpy beats the expression evaluator; default stays
expression-side (no Python in the row path).

Algorithm provenance (public literature): random-hyperplane sign LSH
(Charikar 2002); IVF coarse quantization (Sivic & Zisserman "Video
Google" 2003 bag-of-words inverted files); product quantization with
asymmetric distances and residual encoding (Jégou et al., "Product
quantization for nearest neighbor search", TPAMI 2011).
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterable, Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.pandas.types import from_arrow_type
from pyspark.sql.types import DoubleType, StructField, StructType

from databricks_etl_pipelines_spark.operators import local_probe
from databricks_etl_pipelines_spark.session import invocation_pin

from databricks_etl_pipelines_spark.functions.vectors import (
    as_double_array,
    cosine,
    vec_lit,
)


def _cosine_to(v: Column, query: Sequence[float]) -> Column:
    """Cosine of the vector column ``v`` to a literal query vector."""
    return cosine(v, F.transform(vec_lit(query), lambda x: x.cast("double")))


def _cosine_topk(
    df: DataFrame, id_col: str, k: int, sim: Column, src: str | None = None
) -> DataFrame:
    """The single-query top-k tail: ``(id_col, cosine_sim)`` ranked by
    ``cosine_sim`` DESC, ties to the lower id, first ``k``. ``src`` names
    the id column of ``df`` when it is not ``id_col``."""
    ident = F.col(id_col) if src is None else F.col(src).alias(id_col)
    return (
        df.select(ident, sim.alias("cosine_sim"))
        .orderBy(F.desc("cosine_sim"), F.col(id_col))
        .limit(k)
    )


def brute_force_cosine_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: Sequence[float],
    k: int = 10,
) -> DataFrame:
    """Exact top-k by cosine to a literal query vector. Ties break on id so
    the result is a deterministic set."""
    sim = _cosine_to(as_double_array(vec_col), query)
    return _cosine_topk(df, id_col, k, sim)


def hyperplanes(dim: int, bits: int, seed: int = 42) -> np.ndarray:
    """Deterministic random hyperplanes for sign-LSH."""
    rng = np.random.RandomState(seed)
    return rng.standard_normal((bits, dim))


def _sign_signature(vec: Column, planes: np.ndarray) -> Column:
    """Packed int signature: bit i = sign(dot(vec, plane_i)) ≥ 0."""
    sig = None
    for i, plane in enumerate(planes):
        d = F.aggregate(
            F.zip_with(
                vec,
                F.array(*[F.lit(float(p)) for p in plane]),
                lambda x, y: x * y,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bit = F.when(d >= 0, 2**i).otherwise(0)
        sig = bit if sig is None else sig + bit
    return sig.cast("bigint")


def lsh_ann_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: Sequence[float],
    k: int = 10,
    bits: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: scan only the LSH bucket the query falls in.

    At scale, persist the signature as a partition column so bucket probes
    are partition-pruned scans instead of full scans + filter."""
    planes = hyperplanes(len(query), bits, seed)
    v = as_double_array(vec_col)
    # Strict LEFT-FOLD dot product, mirroring _sign_signature's
    # aggregate(zip_with(...)) order exactly: a BLAS np.dot may sum in a
    # different order, and a sign flip on a near-zero dot would put the
    # query in a different bucket than the same vector stored in the
    # table (and than a SQL oracle replaying the same left fold).
    qsig = 0
    for i, plane in enumerate(planes):
        acc = 0.0
        for x, y in zip(query, plane):
            acc += float(x) * float(y)
        if acc >= 0:
            qsig |= 1 << i
    bucket = df.withColumn("__sig", _sign_signature(v, planes)).filter(
        F.col("__sig") == qsig
    )
    return _cosine_topk(bucket, id_col, k, _cosine_to(v, query))


def ivf_index(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    nlist: int = 64,
    seed: int = 42,
    sample_fraction: float | None = None,
    max_iter: int = 5,
) -> tuple[DataFrame, np.ndarray]:
    """IVF coarse quantizer: learn ``nlist`` centroids (distributed KMeans)
    and assign every vector to its nearest list.

    Returns (assignments ``(id, v, list_id)``, centroids array). At scale
    the assignment DataFrame is written out partitioned/bucketed by
    ``list_id`` ONCE (:meth:`IvfIndex.build_kmeans`), so each probe is a
    partition-pruned scan of nprobe/nlist of the data; centroids (nlist ×
    dim floats) are tiny and live with the index metadata. Fit on a sample
    (``sample_fraction``) — centroid quality needs representative data,
    not all of it.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    base = df.select(
        F.col(id_col).alias("id"), as_double_array(vec_col).alias("v")
    )
    train = base if sample_fraction is None else base.sample(
        fraction=sample_fraction, seed=seed
    )
    # bucketing needs rough centroids, not convergence: few iterations,
    # random init (k-means|| costs extra distributed passes)
    model = KMeans(
        k=nlist, seed=seed, featuresCol="features",
        maxIter=max_iter, initMode="random",
    ).fit(train.select(array_to_vector("v").alias("features")))
    centroids = np.stack([c for c in model.clusterCenters()])
    assigned = model.transform(
        base.select("id", "v", array_to_vector("v").alias("features"))
    ).select("id", "v", F.col("prediction").alias("list_id"))
    return assigned, centroids


def ivf_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: Sequence[float],
    k: int = 10,
    nlist: int = 64,
    nprobe: int = 8,
    seed: int = 42,
    sample_fraction: float | None = None,
    max_iter: int = 5,
) -> DataFrame:
    """IVF approximate top-k: rank centroids by distance to the query on the
    driver (nlist floats — trivial), scan only the ``nprobe`` nearest
    inverted lists, exact cosine within them. The learned-centroid upgrade
    of ``lsh_ann_topk`` — same bucketed-probe shape, data-adaptive buckets."""
    assigned, centroids = ivf_index(
        df, vec_col, id_col, nlist=nlist, seed=seed,
        sample_fraction=sample_fraction, max_iter=max_iter,
    )
    probe = _probe_lists(enumerate(centroids.tolist()), query, nprobe)
    return _cosine_topk(
        assigned.filter(F.col("list_id").isin(probe)),
        id_col, k, _cosine_to(F.col("v"), query), src="id",
    )


def pandas_cosine(query: Sequence[float]):
    """Arrow-vectorized cosine-to-query as a Pandas UDF (the fast Python
    path when the expression evaluator loses to numpy on wide vectors)."""
    q = np.asarray(query, dtype=np.float64)
    qn = np.linalg.norm(q)

    @pandas_udf("double")
    def _cos(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.apply(lambda v: np.asarray(v, dtype=np.float64)))
        denom = np.linalg.norm(m, axis=1) * qn
        # zero-norm rows: numpy would emit NaN, which Spark sorts ABOVE
        # every double — a zero vector would "win" top-k. NULL matches the
        # expression path's nullif semantics (sorts last under desc).
        with np.errstate(divide="ignore", invalid="ignore"):
            sims = (m @ q) / denom
        out = pd.Series(sims)
        out[denom == 0] = None
        return out

    return _cos


def pandas_cosine_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: Sequence[float],
    k: int = 10,
) -> DataFrame:
    return _cosine_topk(df, id_col, k, pandas_cosine(query)(F.col(vec_col)))


def sq_l2(a: Column, b: Column) -> Column:
    """Strict left-fold squared L2 distance: identical IEEE operation order
    to DuckDB's ``list_reduce(list_prepend(0.0, list_transform(...)))`` and
    to a Python ``for``-loop accumulation, so argmin decisions replay
    bit-for-bit across engines."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _py_sq_l2(a: Sequence[float], b: Sequence[float]) -> float:
    """Driver-side squared L2 with the SAME strict left-fold op order as
    sq_l2 / the DuckDB list_reduce replay — probe decisions must agree."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + (x - y) * (x - y)
    return acc


def _strided_centroids(
    base: DataFrame, n: int, stride: int
) -> list[tuple[int, list[float]]]:
    """The deterministic quantizer's init rule, collected: the first ``n``
    ``(id, v)`` rows of ``base`` by id whose id is a multiple of
    ``stride``, as ``[(id, vector)]`` — a pure relational rule any engine
    replays exactly."""
    return [
        (int(r["id"]), [float(x) for x in r["v"]])
        for r in base.filter((F.col("id") % stride) == 0)
        .orderBy("id")
        .limit(n)
        .collect()
    ]


def _centroid_frame(
    spark: SparkSession, rows: Sequence[tuple[int, Sequence[float]]]
) -> DataFrame:
    """``(cid bigint, cv array<double>)`` as an Arrow local relation:
    broadcasting it needs no Python-worker job. A local relation scans in
    up to ``defaultParallelism`` slices; one slice makes the broadcast's
    collect a single task."""
    return spark.createDataFrame(
        pa.table(
            {
                "cid": pa.array([c for c, _ in rows], pa.int64()),
                "cv": pa.array([v for _, v in rows], pa.list_(pa.float64())),
            }
        )
    ).coalesce(1)


def _nearest_centroid(
    base: DataFrame,
    rows: Sequence[tuple[int, Sequence[float]]],
    label: str = "list_id",
) -> DataFrame:
    """``(id, v, label, d)``: every ``(id, v)`` row of ``base`` with the id
    of its nearest centroid by the strict-fold squared L2 (ties to the
    lower id) and that distance. Explode-grid against the broadcast
    centroids + one groupBy min(struct) — NOT a k-way nested HOF fold
    (giant nested lambda expressions whole-stage-compile pathologically;
    see NOTES_NEXT_ROUND round-4 traps)."""
    grid = base.join(
        F.broadcast(_centroid_frame(base.sparkSession, rows))
    ).withColumn("d", sq_l2(F.col("v"), F.col("cv")))
    return (
        grid.groupBy("id", "v")
        .agg(F.min(F.struct("d", "cid")).alias("m"))
        .select("id", "v", F.col("m.cid").alias(label), F.col("m.d").alias("d"))
    )


def _probe_lists(
    rows: Iterable[tuple[int, Sequence[float]]],
    query: Sequence[float],
    nprobe: int,
) -> list[int]:
    """Ids of the ``nprobe`` centroids in ``rows`` (``(id, vector)``
    pairs) nearest ``query`` by the strict-fold squared L2, ties to the
    lower id — the order a SQL replay of the probe derives."""
    qv = [float(x) for x in query]
    ranked = sorted((_py_sq_l2(qv, cv), cid) for cid, cv in rows)
    return [cid for _, cid in ranked[:nprobe]]


def assign_deterministic_lists(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    nlist: int = 16,
    centroid_stride: int = 29,
) -> tuple[DataFrame, list[tuple[int, list[float]]]]:
    """Shared coarse quantizer for the cross-engine-verifiable ANN/dedup
    variants: centroids are the first ``nlist`` corpus vectors at a
    strided id rule (:func:`_strided_centroids`), and every vector goes to
    its nearest centroid (:func:`_nearest_centroid`). Returns
    (assignments(id, v, list_id), collected [(cid, centroid)] rows)."""
    base = df.select(
        F.col(id_col).alias("id"), as_double_array(vec_col).alias("v")
    )
    cent_rows = _strided_centroids(base, nlist, centroid_stride)
    return _nearest_centroid(base, cent_rows).drop("d"), cent_rows


def ivf_topk_deterministic(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: Sequence[float],
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 4,
    centroid_stride: int = 29,
) -> DataFrame:
    """IVF ANN with DATA-DERIVED DETERMINISTIC centroids — the
    cross-engine-verifiable sibling of :func:`ivf_topk`.

    Instead of a learned KMeans quantizer (whose centroids are
    engine-specific float trajectories), the coarse quantizer is the first
    ``nlist`` corpus vectors whose id is a multiple of ``centroid_stride``
    — a pure relational rule any engine replays exactly. Assignment,
    probe-list selection, and ranking are then the SAME machinery a real
    IVF uses: nearest-centroid by squared L2 (strict fold, ties to the
    lower centroid id), scan only the ``nprobe`` nearest inverted lists,
    exact cosine within them. Recall is below KMeans-IVF (centroids are
    arbitrary corpus points, not cluster means) — this variant exists so
    the bucketing/pruning machinery itself gets a hard differential check;
    production uses :func:`ivf_topk` / :meth:`IvfIndex.build_kmeans`.

    Scale shape: centroids are a broadcast 16-row local relation; the
    assignment grid is rows × nlist (map-side, no shuffle in), reduced by
    one hash aggregation on (id, v) taking min(struct(dist, cid)).
    Query-to-centroid distances fold on the driver over the collected
    16 centroid rows (bounded, like the PQ codebook fit).
    """
    assigned, cent_rows = assign_deterministic_lists(
        df, vec_col, id_col, nlist=nlist, centroid_stride=centroid_stride
    )
    probe = _probe_lists(cent_rows, query, nprobe)
    return _cosine_topk(
        assigned.filter(F.col("list_id").isin(probe)),
        id_col, k, _cosine_to(F.col("v"), query), src="id",
    )


def kmeans_lloyd_deterministic(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 8,
    iters: int = 3,
    centroid_stride: int = 29,
    scale_bits: int = 20,
) -> DataFrame:
    """Distributed Lloyd's k-means whose ENTIRE trajectory — every
    assignment and every centroid update across every iteration — is
    bit-replayable in ANSI SQL. This closes the one gap the learned-
    clustering family had: pyspark.ml KMeans centroids are engine-
    specific float trajectories (its consumers semdedup_pairs /
    ivf_topk are rows-only for exactly that reason), while this
    operator IS the learning loop, under a hard differential oracle
    (``ml_kmeans_lloyd_crossengine``).

    Determinism recipe (the reason a float-mean iterative algorithm can
    be cross-engine exact):

    1. Init: centroids are the first ``k`` corpus vectors at a strided
       id rule — a pure relational rule, like the IVF crossengine
       quantizer.
    2. Assignment: strict-left-fold squared L2 (:func:`sq_l2`, the same
       IEEE operation order as the SQL ``list_reduce`` fold), ties to
       the lower cluster index; broadcast-grid + one groupBy
       min(struct) — the proven explode-grid shape, never a k-way
       nested HOF fold.
    3. Update — the crux: member coordinates are quantized to the
       ``2^-scale_bits`` lattice (``floor(x·S + 0.5)`` as BIGINT) and
       summed as INTEGERS. Integer addition is associative and
       commutative, so the per-cluster sums are independent of
       partitioning and visit order on ANY engine — unlike a float
       sum, whose value depends on reduction order. The new coordinate
       is then one IEEE division ``CAST(sum AS DOUBLE) / (S · n)``,
       identical in Spark, Python and DuckDB. Exactness holds while
       ``n_cluster · max|x| · 2^scale_bits < 2^53`` — ~2^28 vectors
       per cluster at |x| ≤ 32, far beyond any per-cluster count a
       sane ``k`` yields at 100 TB (and checkable: widen to
       DECIMAL/HUGEINT or drop scale_bits if ever violated).
    4. Next iteration re-broadcasts the k×dim driver-collected
       centroids (bounded like the IVF/PQ codebooks — k rows of dim
       doubles, never corpus data). Empty clusters keep their previous
       centroid (mirrored by the oracle's COALESCE).

    Scale shape per iteration: one corpus scan, a broadcast join
    against k rows, one hash aggregate with ``dim`` integer-sum columns
    (map-side combine to ≤k rows per partition), one k-row collect. No
    iteration-to-iteration lineage growth: each round starts from the
    parquet scan plus literal centroids, so the plan stays constant-
    size (no localCheckpoint needed, unlike connected components whose
    frontier is data-dependent).

    Returns (id, cluster, dist) — the final assignment and its strict-
    fold squared distance, both engine-exact pre-rounding.
    """
    S = float(1 << scale_bits)
    base = df.select(
        F.col(id_col).alias("id"), as_double_array(vec_col).alias("v")
    )
    cent_rows = [v for _, v in _strided_centroids(base, k, centroid_stride)]
    if len(cent_rows) < k:
        raise ValueError(
            f"kmeans_lloyd_deterministic: only {len(cent_rows)} of {k} "
            f"requested centroids satisfy id % {centroid_stride} == 0 — "
            "lower centroid_stride (or k) so the strided init rule "
            "selects enough seed vectors"
        )
    dim = len(cent_rows[0])

    def assigned_against(cent: list[list[float]]) -> DataFrame:
        return _nearest_centroid(base, list(enumerate(cent)), "cluster")

    for _ in range(iters):
        scaled = [
            F.sum(
                F.floor(
                    F.element_at("v", j + 1) * F.lit(S) + F.lit(0.5)
                ).cast("long")
            ).alias(f"s{j}")
            for j in range(dim)
        ]
        rows = (
            assigned_against(cent_rows)
            .groupBy("cluster")
            .agg(F.count("*").alias("n"), *scaled)
            .collect()
        )
        upd = {}
        for r in rows:
            n = int(r["n"])
            upd[int(r["cluster"])] = [
                float(r[f"s{j}"]) / (S * float(n)) for j in range(dim)
            ]
        cent_rows = [
            upd.get(ci, cv) for ci, cv in enumerate(cent_rows)
        ]

    return assigned_against(cent_rows).select("id", "cluster", "d")


def batch_cosine_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    queries_df: DataFrame,
    q_id_col: str,
    q_vec_col: str,
    k: int = 10,
    round_sim: int | None = None,
) -> DataFrame:
    """Exact top-k per query for a BATCH of query vectors — the retrieval
    shape serving/eval pipelines actually run (one query at a time wastes
    a full corpus scan per query). One broadcast nested-loop join of the
    corpus against the (small) query set, then a per-query window rank:
    the corpus is scanned ONCE for the whole batch, and the intermediate
    is |corpus| x |queries| scored rows — linear in the batch size, never
    corpus x corpus. Ties break on corpus id. For query batches too large
    to broadcast, shard the batch and union.

    ``round_sim`` rounds the similarity BEFORE ranking (half-up at that
    many digits) so an engine replaying the ranking from rounded values
    (a SQL oracle, a downstream consumer of serialized scores) derives
    identical ranks — ranking on raw doubles and rounding after would
    let sub-epsilon raw differences reorder equal rounded scores.
    """
    from pyspark.sql import Window

    corpus = df.select(
        F.col(id_col).alias("__cid"), as_double_array(vec_col).alias("__cv")
    )
    qs = queries_df.select(
        F.col(q_id_col).alias("query_id"),
        as_double_array(q_vec_col).alias("__qv"),
    )
    sim = cosine(F.col("__cv"), F.col("__qv"))
    if round_sim is not None:
        from databricks_etl_pipelines_spark.functions.numeric import (
            stable_round,
        )

        sim = stable_round(sim, round_sim)
    scored = corpus.join(F.broadcast(qs)).select(
        "query_id",
        F.col("__cid").alias(id_col),
        sim.alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


def jl_project(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    out_dim: int = 16,
    in_dim: int = 64,
    scale_bits: int = 20,
    seed: str = "jl",
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction with the Achlioptas
    (2003) sparse projection: R[i][j] ∈ {+1 (1/6), 0 (2/3), −1 (1/6)},
    entries a pure function of (i, j, seed) via the cross-engine md5
    rolling hash — so the ENTIRE projection replays in SQL, and the
    2/3-sparsity means 2/3 of the multiply-adds vanish. The embedding
    pipeline's shrink step: 64-dim vectors become 16-dim before ANN
    indexing / clustering, with pairwise geometry preserved in
    expectation (E[‖y‖²] = ‖x‖²·k/3 for unscaled ±1 entries).

    Exactness recipe: input coordinates quantize to the 2^-scale_bits
    integer lattice (parquet floats are identical bits everywhere, so
    the quantization is engine-exact), and the projection is then pure
    INTEGER arithmetic — sums commute, no fold-order pinning needed.
    Bounds: |q| ≤ |x|·2^20, |yq_j| ≤ in_dim·|q|, Σ yq² ≤ k·(in_dim·|q|)²
    — far inside int64 for unit-scale embeddings.

    Scale shape: one posexplode of the corpus (rows × in_dim) joined to
    the BROADCAST in_dim × out_dim entry relation, one (id, j) integer
    aggregate, one per-id rollup. Linear in corpus size; never any
    pairwise work. Returns (id, x2, y2, jl_ratio) — quantized input and
    projected squared norms plus the (3/k)-corrected ratio the JL lemma
    says concentrates at 1. A zero-norm input vector (x2 = 0) yields a
    NULL jl_ratio rather than an ANSI divide-by-zero error (mirrored by
    the oracle's NULLIF)."""
    q = _jl_quantized(df, vec_col, id_col, scale_bits)
    proj = jl_project_coords(df, vec_col, id_col, out_dim, in_dim,
                             scale_bits, seed)
    y2 = proj.groupBy("id").agg(F.sum(F.col("yq") * F.col("yq")).alias("y2"))
    x2 = q.select(
        "id",
        F.aggregate(
            F.transform("qx", lambda a: a * a),
            F.lit(0).cast("bigint"),
            lambda acc, t: acc + t,
        ).alias("x2"),
    )
    from databricks_etl_pipelines_spark.functions.numeric import stable_round

    ratio = (F.col("y2").cast("double") * F.lit(3.0)) / F.nullif(
        F.col("x2").cast("double") * F.lit(float(out_dim)), F.lit(0.0)
    )
    return x2.join(y2, "id").select(
        "id", "x2", "y2", stable_round(ratio, 6).alias("jl_ratio")
    )


def _jl_quantized(
    df: DataFrame, vec_col: str, id_col: str, scale_bits: int
) -> DataFrame:
    S = float(1 << scale_bits)
    return df.select(
        F.col(id_col).alias("id"),
        F.transform(
            as_double_array(vec_col),
            lambda e: F.floor(e * F.lit(S) + F.lit(0.5)).cast("long"),
        ).alias("qx"),
    )


def jl_project_coords(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    out_dim: int = 16,
    in_dim: int = 64,
    scale_bits: int = 20,
    seed: str = "jl",
) -> DataFrame:
    """The projected coordinates themselves, (id, j, yq) with yq exact
    BIGINT — the relation downstream ANN/clustering consumes (and what
    :func:`jl_project`'s norm report rolls up)."""
    from databricks_etl_pipelines_spark.functions.textfns import (
        fingerprint_rolling,
    )

    spark = df.sparkSession
    entries = (
        spark.range(1, in_dim + 1)
        .select(F.col("id").alias("i"))
        .crossJoin(spark.range(out_dim).select(F.col("id").alias("j")))
    )
    h = fingerprint_rolling(
        F.md5(
            F.concat(
                F.lit(f"{seed}:"),
                F.col("i").cast("string"),
                F.lit(":"),
                F.col("j").cast("string"),
            )
        )
    ) % 6
    entries = entries.select(
        "i", "j",
        F.when(h == 0, F.lit(1))
        .when(h == 1, F.lit(-1))
        .otherwise(F.lit(0))
        .alias("r"),
    )
    exploded = _jl_quantized(df, vec_col, id_col, scale_bits).select(
        "id", F.posexplode("qx").alias("pos", "qi")
    ).select("id", (F.col("pos") + 1).alias("i"), "qi")
    return (
        exploded.join(F.broadcast(entries), "i")
        .groupBy("id", "j")
        .agg(F.sum(F.col("qi") * F.col("r")).alias("yq"))
    )


def contrastive_triplets(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    label_col: str,
    anchors_df: DataFrame,
    round_sim: int = 6,
) -> DataFrame:
    """Hard-example mining for contrastive/embedding training: for every
    anchor vector, the HARDEST POSITIVE (most-similar same-label vector —
    the easy positive every batch already contains is useless; the
    mining literature from FaceNet's semi-hard onward selects by
    similarity) and the HARDEST NEGATIVE (most-similar DIFFERENT-label
    vector — the one the model currently confuses). The (anchor,
    positive, negative) rows are exactly the triplets a triplet/InfoNCE
    loss consumes, and the margin column is the quantity the loss pushes
    on.

    ``anchors_df`` must carry the same (id, vec, label) columns as
    ``df`` and be broadcast-sized (a training batch). Similarities are
    rounded BEFORE the argmax (same discipline as
    :func:`batch_cosine_topk`) with ties broken to the smaller corpus
    id, so an engine replaying from rounded scores derives the same
    winners. Anchors whose label has no other member yield a NULL
    positive (kept, not dropped — the caller decides whether label
    singletons fall back to augmentation pairs).

    Scale shape: ONE corpus scan for the whole anchor batch — a
    broadcast nested-loop join of corpus x anchors, then a single hash
    aggregate taking both conditional struct-maxes per anchor
    (|corpus|·|anchors| scored rows, map-side-combined to |anchors|
    output rows). Never corpus x corpus; for candidate generation at
    larger anchor batches, shard the batch and union, or swap the scan
    for IVF-bucketed candidates as similarity_incremental_ivf does.
    """
    from databricks_etl_pipelines_spark.functions.numeric import stable_round
    from databricks_etl_pipelines_spark.functions.vectors import (
        as_double_array,
        cosine,
    )

    corpus = df.select(
        F.col(id_col).alias("__cid"),
        as_double_array(vec_col).alias("__cv"),
        F.col(label_col).alias("__clab"),
    )
    anchors = anchors_df.select(
        F.col(id_col).alias("anchor_id"),
        as_double_array(vec_col).alias("__av"),
        F.col(label_col).alias("anchor_label"),
    )
    sim = stable_round(cosine(F.col("__cv"), F.col("__av")), round_sim)
    scored = corpus.join(F.broadcast(anchors)).select(
        "anchor_id",
        "anchor_label",
        F.col("__cid"),
        F.col("__clab"),
        sim.alias("__sim"),
    )
    # argmax by struct(sim, -id): max sim first, smaller id on ties
    pick = F.struct(F.col("__sim").alias("s"), (-F.col("__cid")).alias("ni"))
    agg = scored.groupBy("anchor_id", "anchor_label").agg(
        F.max(
            F.when(
                (F.col("__clab") == F.col("anchor_label"))
                & (F.col("__cid") != F.col("anchor_id")),
                pick,
            )
        ).alias("__p"),
        F.max(
            F.when(F.col("__clab") != F.col("anchor_label"), pick)
        ).alias("__n"),
    )
    return agg.select(
        "anchor_id",
        "anchor_label",
        (-F.col("__p.ni")).cast("bigint").alias("positive_id"),
        F.col("__p.s").alias("positive_sim"),
        (-F.col("__n.ni")).cast("bigint").alias("negative_id"),
        F.col("__n.s").alias("negative_sim"),
        stable_round(
            F.col("__p.s") - F.col("__n.s"), round_sim
        ).alias("margin"),
    )


def pq_adc_topk_deterministic(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: Sequence[float],
    k: int = 10,
    m: int = 4,
    ksub: int = 16,
    centroid_stride: int = 29,
    candidates: int = 50,
) -> DataFrame:
    """Product-quantization ADC search with DATA-DERIVED DETERMINISTIC
    codebooks — the cross-engine-verifiable sibling of
    :meth:`IvfIndex.build_pq` (whose learned KMeans codebooks cannot be
    SQL-replayed).

    Codebook for subspace s = the s-th subvector of the first ``ksub``
    corpus vectors at a strided id rule (same rule as
    :func:`ivf_topk_deterministic`). Encoding, the asymmetric-distance
    lookup (Jégou et al. 2011), the candidate cut, and the exact cosine
    re-rank are then the REAL PQ machinery, all replayable value-for-value:

    * per-subspace argmin uses the strict left-fold squared L2 (ties to
      the lower codeword id);
    * the ADC approximation is the FIXED-ORDER sum qd_0 + qd_1 + ... of
      the per-subspace query-to-codeword distances (a conditional pivot,
      not an agg whose float addition order floats), so the candidate
      ranking is bit-identical across engines;
    * ``candidates`` survivors (by ADC asc, id) are re-ranked exactly.

    Scale shape: codebooks are m x ksub tiny literals; encoding is an
    explode-grid (rows x m x ksub) reduced by one hash aggregation —
    stored codes would be uint8s, scanned instead of full vectors; the
    ADC scan touches only codes + a broadcast lookup table.
    """
    dim = len(query)
    sub = dim // m
    base = df.select(
        F.col(id_col).alias("id"), as_double_array(vec_col).alias("v")
    )
    cent_rows = [v for _, v in _strided_centroids(base, ksub, centroid_stride)]
    qv = [float(x) for x in query]
    # query-to-codeword lookup table, driver-side (m x ksub floats)
    qtab = {
        (s, c): _py_sq_l2(
            qv[s * sub:(s + 1) * sub], cw[s * sub:(s + 1) * sub]
        )
        for s in range(m)
        for c, cw in enumerate(cent_rows)
    }
    spark = df.sparkSession
    grid_rows = [
        (s, c, cent_rows[c][s * sub:(s + 1) * sub], float(qtab[(s, c)]))
        for s in range(m)
        for c in range(len(cent_rows))
    ]
    cb = spark.createDataFrame(
        grid_rows, "s int, c int, cw array<double>, qd double"
    )
    enc_grid = base.join(F.broadcast(cb)).withColumn(
        "d",
        sq_l2(
            F.slice(F.col("v"), F.col("s") * sub + 1, sub), F.col("cw")
        ),
    )
    codes = (
        enc_grid.groupBy("id", "v", "s")
        .agg(F.min(F.struct("d", "c", "qd")).alias("mn"))
        .select("id", "v", "s", F.col("mn.qd").alias("qd"))
    )
    # fixed-order ADC sum: one conditional pivot per subspace, then an
    # explicit left-to-right addition chain
    pivoted = codes.groupBy("id", "v").agg(
        *[
            F.sum(F.when(F.col("s") == s, F.col("qd"))).alias(f"qd{s}")
            for s in range(m)
        ]
    )
    adc = F.col("qd0")
    for s in range(1, m):
        adc = adc + F.col(f"qd{s}")
    cand = (
        pivoted.withColumn("adc_dist", adc)
        .orderBy("adc_dist", "id")
        .limit(candidates)
    )
    return (
        cand.select(
            F.col("id").alias(id_col),
            F.col("adc_dist"),
            _cosine_to(F.col("v"), query).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), F.col(id_col))
        .limit(k)
    )


def hash_embed_buckets(
    df: DataFrame,
    text_col: str,
    id_col: str,
    dim: int = 64,
) -> DataFrame:
    """Feature-hashing text embedder (the 'hashing trick', Weinberger et
    al. 2009): every token hashes to one of ``dim`` buckets with a ±1
    sign, and a document's embedding is the per-bucket signed token
    count. Returned SPARSE as (id, bucket, val) rows with INTEGER values
    — keeping the representation integer-exact makes every downstream
    dot product / norm an exact BIGINT sum, so similarity scores admit
    bit-identical cross-engine replay (no float accumulation order
    anywhere until one final division).

    Token hash = the cross-engine md5 rolling hash (same family as
    shard_assignment): bucket = h mod dim, sign = bit 0 of (h div dim).

    Scale shape: explode tokens → one hash aggregation on (id, bucket).
    Sparse beats dense at 100 TB: a doc touches ≤ its token count of
    buckets, and the retrieval join below only moves touched buckets.
    """
    from databricks_etl_pipelines_spark.functions.textfns import (
        fingerprint_rolling,
        tokens,
    )

    tok = df.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(text_col)).alias("__t"),
    )
    # Hash the DISTINCT vocabulary, not every token instance (r15): the
    # md5 rolling hash costs ~two orders of magnitude more per row than
    # the explode, and words repeat — hashing once per distinct token
    # and joining (bucket, sign) back cuts the hash work by the
    # corpus's instances-per-word ratio while producing the IDENTICAL
    # (bucket, sign) per word. The join strategy is AQE's choice (r16,
    # closes the r15 ADVICE guard item): the distinct already shuffles,
    # so AQE sees the vocabulary's REAL size — broadcast while it fits,
    # shuffle join on the token column on an open-vocabulary corpus,
    # never an unconditional driver-side collect of unbounded vocab.
    h = fingerprint_rolling(F.md5(F.col("__t")))
    sign = (F.floor(h / dim).cast("bigint") % 2) * 2 - 1
    vocab = tok.select("__t").distinct().select(
        "__t",
        (h % dim).cast("int").alias("bucket"),
        sign.cast("bigint").alias("__sgn"),
    )
    return (
        tok.join(vocab, "__t")
        .groupBy("id", "bucket")
        .agg(F.sum("__sgn").alias("val"))
        .filter(F.col("val") != 0)
    )


def hash_embed_cosine_topk(
    df: DataFrame,
    text_col: str,
    id_col: str,
    query_id,
    k: int = 10,
    dim: int = 64,
    round_digits: int = 6,
) -> DataFrame:
    """End-to-end text retrieval on the feature-hashed embeddings: cosine
    top-k against the document ``query_id``, computed RELATIONALLY on the
    sparse rows — dot products and squared norms are exact BIGINT sums of
    integer products (one bucket equi-join, no arrays, no float
    accumulation), with a single stable-rounded double division at the
    end. The query document itself is excluded from the result.

    Scale shape: norms are one self-aggregate; the query's ≤``dim``
    bucket rows broadcast onto the corpus rows; candidates are only
    documents sharing ≥1 bucket with the query (cosine 0 otherwise).
    """
    # Pinned (r15): emb feeds norms, the query-row filter and the dot
    # pass — unpinned, each reference re-ran the md5 token-hash pass
    # (the operator's dominant cost). Lazy localCheckpoint replaces the
    # previous session persist(): same single materialization inside
    # the consumer's action, but invocation-scoped — the old persist
    # was never released, so it accumulated across a multi-query
    # session AND let a later identical invocation read this run's
    # cache through plan-fragment matching (dishonest under a warm
    # bench re-run).
    emb = hash_embed_buckets(df, text_col, id_col, dim=dim).transform(invocation_pin)
    _, rel = _hash_relevance(emb, query_id, round_digits)
    return _cosine_topk(rel, id_col, k, F.col("rel"), src="id")


def _hash_relevance(
    emb: DataFrame, query_id, round_digits: int
) -> tuple[DataFrame, DataFrame]:
    """``(norms(id, n2), rel(id, rel))`` over hash-embedding rows: squared
    norms and dot products with document ``query_id`` as exact BIGINT
    sums, then one stable-rounded double ratio per document sharing a
    bucket with the query (the query itself excluded). The query's
    ≤ ``dim`` bucket rows and its norm broadcast onto the corpus rows."""
    from databricks_etl_pipelines_spark.functions.numeric import stable_round

    norms = emb.groupBy("id").agg(
        F.sum(F.col("val") * F.col("val")).alias("n2")
    )
    q = emb.filter(F.col("id") == query_id).select(
        "bucket", F.col("val").alias("qval")
    )
    qn = norms.filter(F.col("id") == query_id).select(
        F.col("n2").alias("qn2")
    )
    rel = stable_round(
        F.col("dot")
        / (F.sqrt(F.col("n2").cast("double"))
           * F.sqrt(F.col("qn2").cast("double"))),
        round_digits,
    )
    return norms, (
        emb.filter(F.col("id") != query_id)
        .join(F.broadcast(q), "bucket")
        .groupBy("id")
        .agg(F.sum(F.col("val") * F.col("qval")).alias("dot"))
        .join(norms, "id")
        .crossJoin(F.broadcast(qn))
        .select("id", rel.alias("rel"))
    )


def _cosine_topk_local(
    spark: SparkSession,
    files: list[str],
    qv: list[float],
    id_col: str,
    k: int,
) -> DataFrame | None:
    """:meth:`IvfIndex.probe` on the driver: :func:`cosine` in
    numpy op for op (strict left-fold dot and norms, ``nullif`` of a zero
    norm product to NULL) and the same ordering. None when the list
    files' schemas differ, the stored vectors hold NULLs, non-finite
    values or a length other than the query's, or a cosine is NaN: the
    Spark path keeps those semantics."""
    table = local_probe.read_files(files, ["id", "v"])
    if table is None or local_probe.has_nulls(table):
        return None
    vecs = table["v"].combine_chunks()
    q = np.asarray(qv, dtype=np.float64)
    if not np.all(vecs.value_lengths().to_numpy() == len(q)):
        return None
    mat = vecs.flatten().to_numpy().reshape(len(vecs), len(q))
    if not (np.isfinite(mat).all() and np.isfinite(q).all()):
        return None
    dot = local_probe.left_fold_sum(mat * q)
    norms = np.sqrt(local_probe.left_fold_sum(mat * mat)) * np.sqrt(
        local_probe.left_fold_sum((q * q)[None, :])
    )
    nonzero = norms != 0.0
    cos = np.full(len(vecs), np.nan)
    np.divide(dot, norms, out=cos, where=nonzero)
    if np.isnan(cos[nonzero]).any():
        return None
    ids = table["id"].to_numpy()
    order = local_probe.top_k_order(cos, ids, k)
    id_type = table.schema.field("id").type
    schema = StructType(
        [
            StructField(id_col, from_arrow_type(id_type)),
            StructField("cosine_sim", DoubleType()),
        ]
    )
    columns = {
        id_col: pa.array(ids[order], id_type),
        # NaN here stands for NULL
        "cosine_sim": pa.array(cos[order], from_pandas=True),
    }
    return local_probe.arrow_frame(spark, pa.table(columns), schema)


class IvfIndex:
    """Persisted IVF index: inverted lists written ONCE hive-partitioned by
    ``list_id``, probed MANY times with partition-pruned reads, and grown
    by incremental :meth:`append`.

    Layout under ``root``: ``lists/list_id=*`` parquet of ``(id, v)`` rows
    (plus ``codes`` for a PQ index) and ``centroids.json`` as
    ``[[list_id, centroid], ...]``; a PQ index also holds ``pq_meta.json``
    (its codebooks). Three builders fill the same layout:

    * :meth:`build` — strided corpus centroids
      (:func:`assign_deterministic_lists`). The quantizer is a relational
      rule, so a DuckDB oracle replays build + append + probe
      value-for-value (``similarity_incremental_ivf``).
    * :meth:`build_kmeans` — learned KMeans centroids (:func:`ivf_index`)
      fit on a sample; at 100 TB every vector is assigned once and each
      query reads only ``nprobe``/``nlist`` of the data.
    * :meth:`build_pq` — KMeans lists plus a product-quantization
      ``codes`` column for ADC probes (:meth:`probe_pq`).

    The quantizer is FROZEN at build. :meth:`append` argmin-assigns a batch
    against the stored centroids with the strict-fold broadcast grid
    (:func:`_nearest_centroid`) and appends ONLY the touched list
    partitions, so probe cost stays list-bounded however many appends
    land. Every probe ranks lists by the strict-fold squared L2, ties to
    the lower list id (:func:`_probe_lists`).
    """

    def __init__(self, root: str):
        self.root = root

    @property
    def _lists(self) -> str:
        return os.path.join(self.root, "lists")

    @property
    def _meta(self) -> str:
        return os.path.join(self.root, "centroids.json")

    @property
    def _pq_meta(self) -> str:
        return os.path.join(self.root, "pq_meta.json")

    # -- build --------------------------------------------------------------

    def _write(
        self,
        lists: DataFrame,
        cent_rows: Sequence[tuple[int, Sequence[float]]],
        pq: dict | None = None,
    ) -> None:
        """The one list write: ``(id, v, list_id[, codes])`` rows
        overwrite ``lists/``, then the centroids and PQ metadata."""
        lists.write.partitionBy("list_id").mode("overwrite").parquet(
            self._lists
        )
        os.makedirs(self.root, exist_ok=True)
        with open(self._meta, "w") as f:
            json.dump(cent_rows, f)
        if pq is not None:
            with open(self._pq_meta, "w") as f:
                json.dump(pq, f)
        elif os.path.exists(self._pq_meta):
            os.remove(self._pq_meta)

    def build(
        self,
        df: DataFrame,
        vec_col: str,
        id_col: str,
        nlist: int = 16,
        centroid_stride: int = 29,
    ) -> None:
        assigned, cent_rows = assign_deterministic_lists(
            df, vec_col, id_col, nlist=nlist, centroid_stride=centroid_stride
        )
        self._write(assigned, cent_rows)

    def build_kmeans(
        self,
        df: DataFrame,
        vec_col: str,
        id_col: str,
        nlist: int = 64,
        seed: int = 42,
        sample_fraction: float | None = None,
        max_iter: int = 5,
    ) -> None:
        assigned, centroids = ivf_index(
            df, vec_col, id_col, nlist=nlist, seed=seed,
            sample_fraction=sample_fraction, max_iter=max_iter,
        )
        # align the shuffle with the layout: hash-partitioned by list →
        # one file per list directory, in as many tasks as AQE sizes
        self._write(
            assigned.repartition("list_id"),
            list(enumerate(centroids.tolist())),
        )

    def build_pq(
        self,
        df: DataFrame,
        vec_col: str,
        id_col: str,
        nlist: int = 64,
        m: int = 4,
        k: int = 16,
        seed: int = 42,
        sample_fraction: float | None = None,
        max_iter: int = 5,
        residual: bool = True,
    ) -> None:
        """KMeans lists (:meth:`build_kmeans`) where every vector also
        stores ``m`` small-int codes — its nearest codebook centroid per
        subspace (codebooks: per-subspace Lloyd's over a driver sample,
        k=16..256). At 100 TB the codes are D/m·(8/32)× smaller than the
        raw vectors, so an ADC probe reads a few bytes per candidate.

        ``residual=True`` (default) is the full IVFADC shape (Jégou et al.
        2011): each vector is quantized as ``v - coarse_centroid[list_id]``.
        Residuals concentrate near the origin, so the same codebook budget
        spends its centroids on a much tighter distribution — quantization
        error drops (pinned by test_pq_residual_beats_plain_quantization).
        """
        assigned, centroids = ivf_index(
            df, vec_col, id_col, nlist=nlist, seed=seed,
            sample_fraction=sample_fraction, max_iter=max_iter,
        )
        assigned = assigned.persist()
        dim = len(assigned.select("v").head()["v"])
        if dim % m != 0:
            raise ValueError(f"dim {dim} not divisible by m={m}")
        sub = dim // m
        # per-subspace codebooks fit on a driver-side sample: k centroids of
        # a `sub`-dim space need thousands of points, not the full table
        srows = assigned.select("v", "list_id").limit(20000).collect()
        sample = np.stack(
            # bounded driver pull — no full-table count or collect
            [np.asarray(r["v"], dtype=np.float64) for r in srows]
        )
        if residual:
            sample = sample - centroids[[r["list_id"] for r in srows]]
        rng = np.random.RandomState(seed)
        codebooks = []
        for j in range(m):
            block = sample[:, j * sub : (j + 1) * sub]
            # tiny Lloyd's iterations, numpy-only (no sklearn in image)
            cent = block[rng.choice(len(block), size=k, replace=False)]
            for _ in range(max_iter):
                d2 = ((block[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
                owner = d2.argmin(axis=1)
                for c in range(k):
                    members = block[owner == c]
                    if len(members):
                        cent[c] = members.mean(axis=0)
            codebooks.append(cent.tolist())
        cb = np.asarray(codebooks)  # m × k × sub

        def encode(batches):
            for pdf in batches:
                mat = np.stack(
                    pdf["v"].apply(lambda v: np.asarray(v, dtype=np.float64))
                )
                if residual:
                    # centroids (nlist × dim) ride the closure — tiny
                    mat = mat - centroids[pdf["list_id"].to_numpy()]
                codes = []
                for j in range(m):
                    block = mat[:, j * sub : (j + 1) * sub]
                    d2 = (
                        (block[:, None, :] - cb[j][None, :, :]) ** 2
                    ).sum(axis=2)
                    codes.append(d2.argmin(axis=1).astype("int32"))
                out = pdf[["id", "v", "list_id"]].copy()
                out["codes"] = np.stack(codes, axis=1).tolist()
                yield out

        encoded = assigned.mapInPandas(
            encode,
            "id bigint, v array<double>, list_id int, codes array<int>",
        )
        self._write(
            encoded.repartition("list_id"),
            list(enumerate(centroids.tolist())),
            pq={"m": m, "k": k, "sub": sub, "residual": residual,
                "codebooks": cb.tolist()},
        )
        assigned.unpersist()

    # -- append -------------------------------------------------------------

    def _centroid_rows(self) -> list[tuple[int, list[float]]]:
        with open(self._meta) as f:
            return [(int(c), [float(x) for x in v]) for c, v in json.load(f)]

    def append(self, batch: DataFrame, vec_col: str, id_col: str) -> None:
        if os.path.exists(self._pq_meta):
            raise ValueError(
                f"{self.root} stores PQ codes, which append cannot encode; "
                "rebuild it with build_pq"
            )
        batch = local_probe.cast_to_stored(batch, id_col, self._lists, "id")
        base = batch.select(
            F.col(id_col).alias("id"), as_double_array(vec_col).alias("v")
        )
        _nearest_centroid(base, self._centroid_rows()).drop(
            "d"
        ).write.partitionBy("list_id").mode("append").parquet(self._lists)

    # -- probe --------------------------------------------------------------

    def probe(
        self,
        spark: SparkSession,
        query: Sequence[float],
        id_col: str,
        k: int = 10,
        nprobe: int = 4,
    ) -> DataFrame:
        """Top-k ids by exact cosine to ``query`` (``cosine_sim`` DESC,
        then ``id_col``) within the ``nprobe`` lists whose centroids are
        nearest by the strict-fold squared L2 (ties to the lower list id).

        Return contract: when the probed ``list_id=`` directories hold
        less than ``local_probe.LOCAL_PROBE_MAX_BYTES``, the probe reads
        them on the driver and returns a ≤ k-row
        ``local_probe.ArrowFrame``: values are frozen at call time, and
        ``.collect()``, ``.count()`` and ``.schema`` answer from its Arrow
        rows with no JVM call (its JVM local relation is built on the
        first other method; an id type outside
        ``local_probe.arrow_frame``'s list gets an eager local relation
        instead). Its schema, row order and doubles equal the Spark path's
        (strict-fold dot and norms, zero norms to NULL sorted last). The
        pruning plan is then not inspectable on the result; inspect it
        on an index above the threshold, where the result stays lazy
        with ``PartitionFilters: [list_id …]`` on the scan."""
        lists = _probe_lists(self._centroid_rows(), query, nprobe)
        files = local_probe.probed_files(self._lists, "list_id", lists)
        if files is not None:
            qv = [float(x) for x in query]
            local = _cosine_topk_local(spark, files, qv, id_col, k)
            if local is not None:
                return local
        return _cosine_topk(
            spark.read.parquet(self._lists).filter(F.col("list_id").isin(lists)),
            id_col, k, _cosine_to(F.col("v"), query), src="id",
        )

    def probe_pq(
        self,
        spark: SparkSession,
        query: Sequence[float],
        kk: int = 10,
        nprobe: int = 8,
        rerank: int = 50,
    ) -> DataFrame:
        """ADC probe of a :meth:`build_pq` index (asymmetric distance
        computation, Jégou et al. 2011): the query precomputes an m×k
        lookup table of subspace distances ON THE DRIVER, each candidate's
        approximate distance is m table lookups over its codes
        (Arrow-vectorized numpy, no full vectors touched), and the
        ``rerank`` nearest survivors are re-ranked by exact cosine to the
        final ``(vec_id, cosine_sim)`` top-``kk``. A residual index needs
        one table PER PROBED LIST (the query re-expressed relative to
        each list's centroid): nprobe × m × k floats, gathered per
        candidate by list_id."""
        with open(self._pq_meta) as f:
            pq = json.load(f)
        cb = np.asarray(pq["codebooks"])  # m × k × sub
        m, sub = pq["m"], pq["sub"]
        residual = pq.get("residual", False)
        qvec = np.asarray(query, dtype=np.float64)
        rows = self._centroid_rows()
        lists = _probe_lists(rows, query, nprobe)

        def sub_table(q: np.ndarray) -> np.ndarray:
            # distance from each query subvector to every codebook centroid
            return np.stack(
                [
                    ((cb[j] - q[j * sub : (j + 1) * sub][None, :]) ** 2).sum(
                        axis=1
                    )
                    for j in range(m)
                ]
            )

        if residual:
            centroids = dict(rows)
            tables = np.zeros((max(centroids) + 1, m, cb.shape[1]))
            for li in lists:
                tables[li] = sub_table(qvec - np.asarray(centroids[li]))
        else:
            tables = np.broadcast_to(
                sub_table(qvec), (1, m, cb.shape[1])
            ).copy()

        @pandas_udf("double")
        def adc_dist(list_id: pd.Series, codes: pd.Series) -> pd.Series:
            c = np.stack(codes.apply(np.asarray))
            li = (
                list_id.to_numpy() if residual
                else np.zeros(len(c), dtype=int)
            )
            return pd.Series(
                tables[li[:, None], np.arange(m)[None, :], c].sum(axis=1)
            )

        cands = (
            spark.read.parquet(self._lists)
            .filter(F.col("list_id").isin(lists))
            .withColumn("adc", adc_dist(F.col("list_id"), F.col("codes")))
            .orderBy("adc")
            .limit(rerank)
        )
        return _cosine_topk(
            cands, "vec_id", kk, _cosine_to(F.col("v"), query), src="id"
        )


# the name perfbench/workloads.py and perfbench/spans.py still use
DetIvfIndex = IvfIndex


def ann_recall_report(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    queries_df: DataFrame,
    q_id_col: str,
    q_vec_col: str,
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 4,
    centroid_stride: int = 29,
    round_sim: int = 6,
) -> DataFrame:
    """Recall@k evaluation of the deterministic-IVF ANN against exact
    brute-force cosine, per query — the report every ANN deployment needs
    BEFORE trading exactness for scan reduction (FAISS publishes exactly
    this curve per index type; a recall number nobody measured is how
    silent retrieval regressions ship).

    For each query vector: exact top-k over the full corpus
    (:func:`batch_cosine_topk`, one corpus scan for the whole batch) and
    ANN top-k through the SAME deterministic coarse quantizer the
    cross-engine IVF uses (:func:`assign_deterministic_lists`), then
    ``recall_at_k = |ANN ∩ exact| / k``. Both rankings round the cosine
    BEFORE ranking (half-up at ``round_sim`` digits, ties to the lower
    corpus id) so any engine replaying from the same floats derives
    identical top-k sets — recall itself becomes differentially
    checkable, not a vibe.

    Scale shape: the corpus is scanned twice (once scored against the
    broadcast query batch, once through the centroid assignment grid);
    centroids and the per-query probe lists are broadcast-sized; the only
    shuffles are the two per-query window ranks over candidate rows
    (|corpus|·|queries| worst case for exact — shard the query batch to
    bound it) and the final per-query count. Nothing is ever
    corpus × corpus.
    """
    from pyspark.sql import Window

    from databricks_etl_pipelines_spark.functions.numeric import stable_round

    assigned, cent_rows = assign_deterministic_lists(
        df, vec_col, id_col, nlist=nlist, centroid_stride=centroid_stride
    )
    cent = _centroid_frame(df.sparkSession, cent_rows)
    qs = queries_df.select(
        F.col(q_id_col).alias("query_id"),
        as_double_array(q_vec_col).alias("qv"),
    )

    # per-query probe lists: nprobe nearest centroids by the strict fold
    qgrid = qs.join(F.broadcast(cent)).withColumn(
        "d", sq_l2(F.col("qv"), F.col("cv"))
    )
    w_probe = Window.partitionBy("query_id").orderBy("d", "cid")
    qprobe = (
        qgrid.withColumn("rn", F.row_number().over(w_probe))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "cid")
    )

    # ANN top-k: scan only the probed lists, exact cosine within them
    cand = assigned.join(
        F.broadcast(qprobe), assigned.list_id == qprobe.cid
    ).join(F.broadcast(qs), "query_id")
    w_rank = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.col("id")
    )
    ann = (
        cand.withColumn(
            "sim", stable_round(cosine(F.col("v"), F.col("qv")), round_sim)
        )
        .withColumn("rnk", F.row_number().over(w_rank))
        .filter(F.col("rnk") <= k)
        .select("query_id", F.col("id").alias(id_col), F.lit(1).alias("__hit"))
    )

    exact = batch_cosine_topk(
        df, vec_col, id_col, queries_df, q_id_col, q_vec_col,
        k=k, round_sim=round_sim,
    ).select("query_id", id_col)

    return (
        exact.join(ann, ["query_id", id_col], "left")
        .groupBy("query_id")
        .agg(
            F.count("*").cast("bigint").alias("exact_k"),
            F.coalesce(F.sum("__hit"), F.lit(0))
            .cast("bigint")
            .alias("ann_hits"),
        )
        .withColumn(
            "recall_at_k",
            F.col("ann_hits").cast("double") / F.col("exact_k"),
        )
    )


def mmr_rerank_topk(
    df: DataFrame,
    text_col: str,
    id_col: str,
    query_id,
    n_cands: int = 12,
    k: int = 5,
    dim: int = 64,
    round_digits: int = 6,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998) of the hash-embedding cosine top-``n_cands`` for document
    ``query_id``: greedily pick ``k`` results maximizing
    λ·rel(d) − (1−λ)·max_{s∈selected} sim(d, s) at dyadic λ = 1/2 —
    the diversity-aware retrieval cut that keeps near-duplicate hits
    from crowding a RAG context window.

    Determinism: relevance and pairwise similarities are the family's
    exact-BIGINT dot/norm ratios stable-rounded to ``round_digits``
    (round-before-rank); each greedy step's score is
    (rel − maxsim) / 2 — one subtraction and an exact halving of
    rounded values — and every argmax breaks ties by smallest id, so
    the whole greedy trajectory replays bit-for-bit in SQL.

    Scale shape: the candidate cut is the standard top-n retrieval
    (corpus-sized); everything after operates on BOUNDED relations —
    the n_cands×n_cands pairwise matrix (zeros for disjoint-support
    pairs materialized by a ≤ n_cands² cross join, so max-over-selected
    sees cosine 0, not a missing row) and k chained argmax-limit-1
    steps, all broadcastable at any corpus size. The greedy runs
    driver-side over the two BOUNDED collected relations (≤ n_cands
    candidates + ≤ n_cands² pair sims — documented bounded collects;
    the r11c probe showed the k unrolled DataFrame-step alternative
    spends ~30 s of Catalyst compilation on a 5-row result), and the
    cached relations release before return (the probe_bm25
    strict-mode contract — the returned frame is a frozen ≤ k-row
    local relation)."""
    from databricks_etl_pipelines_spark.functions.numeric import stable_round

    emb = hash_embed_buckets(df, text_col, id_col, dim=dim).persist()
    norms, rel = _hash_relevance(emb, query_id, round_digits)
    cands = rel.orderBy(F.desc("rel"), "id").limit(n_cands).persist()
    # full candidate×candidate similarity matrix, zeros materialized
    ce = emb.join(
        F.broadcast(cands.select("id")), "id"
    )
    dots_ab = (
        ce.select(F.col("id").alias("a"), "bucket", F.col("val").alias("va"))
        .join(
            ce.select(
                F.col("id").alias("b"), "bucket", F.col("val").alias("vb")
            ),
            "bucket",
        )
        .filter(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.sum(F.col("va") * F.col("vb")).alias("dot"))
    )
    na = norms.select(F.col("id").alias("a"), F.col("n2").alias("na2"))
    nb = norms.select(F.col("id").alias("b"), F.col("n2").alias("nb2"))
    grid = (
        cands.select(F.col("id").alias("a"))
        .crossJoin(cands.select(F.col("id").alias("b")))
        .filter(F.col("a") != F.col("b"))
    )
    psim = (
        grid.join(dots_ab, ["a", "b"], "left")
        .join(F.broadcast(na), "a")
        .join(F.broadcast(nb), "b")
        .select(
            "a",
            "b",
            F.coalesce(
                stable_round(
                    F.col("dot")
                    / (
                        F.sqrt(F.col("na2").cast("double"))
                        * F.sqrt(F.col("nb2").cast("double"))
                    ),
                    round_digits,
                ),
                F.lit(0.0),
            ).alias("sim"),
        )
        .persist()
    )
    # greedy: BOUNDED collect of the candidate cut (≤ n_cands rows)
    # and the pair matrix (≤ n_cands² rows), then the k argmax steps
    # in plain Python — the distributed work is the corpus-sized
    # retrieval cut and pairwise dots above; the greedy itself touches
    # only these two bounded relations, and running it driver-side
    # replaces k unrolled join/agg subplans (whose Catalyst
    # compilation dominated a 5-row result: ~30 s at any corpus size
    # in the r11c probe) with microseconds of list arithmetic. Same
    # float ops in the same order as the SQL oracle: rounded sims in,
    # (rel − maxsim)/2, smallest-id ties. Both collects are bounded
    # and documented (the repo-wide bounded-collect contract).
    cand_rows = sorted(
        cands.collect(), key=lambda r: (-r["rel"], r["id"])
    )
    sim_map = {(r["a"], r["b"]): r["sim"] for r in psim.collect()}
    spark = df.sparkSession
    for cached in (psim, cands, emb):
        cached.unpersist()
    picked: list = []
    remaining = {r["id"]: r["rel"] for r in cand_rows}
    for rank in range(1, min(k, len(cand_rows)) + 1):
        best = None
        for cid, rel_v in remaining.items():
            maxsim = max(
                (sim_map[(cid, s)] for s, _, _ in picked), default=0.0
            )
            score = (rel_v - maxsim) / 2.0
            key = (-score, cid)
            if best is None or key < best[0]:
                best = (key, cid, rel_v, score)
        picked.append((best[1], best[2], best[3]))
        del remaining[best[1]]
    # id column keeps ITS OWN source type (a string/int id must round-trip
    # unchanged — a hardcoded `long` here would reject non-integral ids at
    # createDataFrame despite the generic id_col parameter)
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = (
        f"rank int, {id_col} {id_type}, rel double, mmr_score double"
    )
    rows = [
        (i + 1, cid, rel_v, score)
        for i, (cid, rel_v, score) in enumerate(picked)
    ]
    # contract: a frozen ≤ k-row local relation (no retrieval plan to
    # inspect; re-sort downstream if ordering matters after a shuffle)
    return spark.createDataFrame(rows, out_schema)
