"""Deduplication operators for training-data pipelines: exact, MinHash-LSH,
SimHash, n-gram Jaccard, and embedding-cosine near-dup.

All five are DataFrame combinators with no row-level Python; the quadratic
pair explosion every near-dup method risks is bounded by *pruned candidate
generation* (LSH band buckets / simhash chunk buckets / frequency-ordered
prefix filtering) so candidates always come from an equi-join on small hash
keys, never a cross join.

Scale design (100 TB documents):
  * exact: one hash-aggregate shuffle on the normalized-text hash.
  * MinHash-LSH: signatures are a pure projection over the shared
    hashed-shingle sets (num_perm seeded xxhash64 mins); banding turns
    near-dup search into `bands` equi-joins on (band_id, band_hash). Hot
    buckets (boilerplate docs) are capped — a bucket with > max_bucket
    members is dropped, the standard guardrail against O(n²) blowup
    inside one bucket.
  * SimHash: 60-bit signature via per-bit majority vote of shingle hashes
    (shingles, not unigram tokens — shared template vocabulary collapses
    token votes) — two aggregations, then pigeonhole chunk equi-join +
    hamming filter (bit_count of xor), all codegen.
  * n-gram Jaccard: lossless AllPairs prefix filtering (rarest-first
    global order + length filter), exact verification on surviving pairs
    via the shared exact-Jaccard verify over hashed sets.
  * embedding cosine: candidate pairs from sign-bit buckets of leading
    dims (or brute-force below modest n); verification is an
    expression-side cosine.

Shingle sets are built once per document and pinned across the plan's
branches. The MinHash families are one table, ``_FAMILIES``: each name
("xxhash64", the production default over ``_hashed_shingle_sets``'
64-bit hashes; "crossengine", md5 + Karp-Rabin over string shingles,
replayable in ANSI SQL) maps to the functions that make its shingle sets
and its band table. Every MinHash path — the batch pairs of either family
and ``MinHashCorpusIndex`` — runs the same capped band join
(``_band_pairs``) and the same exact-Jaccard verify
(``_verify_jaccard``), which the prefix-filtered n-gram join shares too.
SimHash, the span report and the embedding methods shingle on their own.

Algorithm provenance (public literature): MinHash resemblance sketches
(Broder, "On the resemblance and containment of documents", 1997); LSH
banding (Leskovec/Rajaraman/Ullman, "Mining of Massive Datasets" ch. 3);
SimHash (Charikar, "Similarity estimation techniques from rounding
algorithms", 2002; Manku et al., "Detecting near-duplicates for web
crawling", 2007); prefix-filtered set-similarity joins (Bayardo et al.,
"Scaling up all pairs similarity search", 2007; Xiao et al., "Efficient
similarity joins for near duplicate detection", 2008).
"""

from __future__ import annotations

import json
import os
from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from databricks_etl_pipelines_spark.functions.textfns import (
    distinct_shingles,
    fingerprint_rolling,
    normalized_text,
    tokens,
)
from databricks_etl_pipelines_spark.functions.numeric import stable_round
from databricks_etl_pipelines_spark.functions.vectors import as_double_array, cosine
from databricks_etl_pipelines_spark.session import invocation_pin, tune_for_derived_generate


def _spread(df: DataFrame) -> DataFrame:
    """Repartition to the session's shuffle parallelism with an explicit
    count so AQE does NOT coalesce it away. Candidate-pair verification is
    CPU-heavy per row but tiny in bytes; AQE's size-based coalescing would
    squeeze it onto 1-2 cores."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n)


def _spread_input(df: DataFrame) -> DataFrame:
    """Ensure the document scan is at least as parallel as the session.

    Shingling/hashing costs far more CPU per byte than the scan itself; a
    small single-file parquet table arrives as ONE partition and would pin
    the whole expression chain to one core. On a real cluster a 100 TB scan
    already has thousands of splits, so this is a no-op there — the
    repartition only fires when input partitions < session parallelism."""
    tune_for_derived_generate(df.sparkSession)
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n)
    return df


def _hashed_shingle_sets(
    df: DataFrame, text_col: str, id_col: str, shingle_k: int
) -> DataFrame:
    """(id, sh: sorted array<bigint>) — the doc's distinct shingles as
    64-bit hashes. All verification set-ops run on 8-byte longs; see the
    collision note in ``ngram_jaccard_pairs``.

    Pinned (invocation-scoped lazy localCheckpoint): every near-dup plan
    consumes this relation from 2-4 branches (frequency count, ordering,
    both verification sides); shingling+hashing is the single most
    expensive projection in the pipeline, so materializing it once
    halves end-to-end time. MEMORY_AND_DISK under the checkpoint; the
    RDD dies with the invocation — no session cache entry for a later
    run to read through plan matching."""
    return (
        _spread_input(df)
        .select(
            F.col(id_col).alias("id"),
            F.array_sort(
                F.array_distinct(
                    F.transform(
                        distinct_shingles(text_col, shingle_k),
                        lambda s: F.xxhash64(s),
                    )
                )
            ).alias("sh"),
        )
        .transform(invocation_pin)
    )


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup_groups(
    df: DataFrame, text_col: str, id_col: str, normalize: bool = True
) -> DataFrame:
    """One row per distinct (normalized) text: the keeper id (min) and the
    duplicate count. Single hash-agg shuffle; at 100 TB group on the md5 of
    the normalized text so the shuffle key is 16 bytes, not the document."""
    key = normalized_text(text_col) if normalize else F.col(text_col)
    return (
        df.withColumn("__text_hash", F.md5(key))
        .groupBy("__text_hash")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count("*").alias("copies"),
        )
        .withColumnRenamed("__text_hash", "text_hash")
    )


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep exactly one row (min id) per distinct normalized text."""
    w_keeper = exact_dedup_groups(df, text_col, id_col).select(
        F.col("keeper_id").alias(id_col)
    )
    return df.join(w_keeper, id_col, "left_semi")


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup
# ---------------------------------------------------------------------------


def _signatures(sets: DataFrame, num_perm: int) -> DataFrame:
    """(id, sig: array<bigint>) over hashed shingle sets (id, sh)."""

    def perm_min(i: int) -> F.Column:
        # NB: capture ``i`` via this factory, NOT a `lambda h, i=i:` default
        # arg — a two-parameter lambda is interpreted by Spark's transform()
        # as (element, index), silently replacing the permutation seed with
        # the array position and collapsing all permutations into one.
        return F.array_min(
            F.transform("sh", lambda h: F.xxhash64(F.lit(i), h))
        )

    sig = F.array(*[perm_min(i) for i in range(num_perm)])
    return sets.select("id", sig.alias("sig"))


def minhash_signature(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 32,
    shingle_k: int = 3,
    hashed_sets: DataFrame | None = None,
) -> DataFrame:
    """(id, sig: array<bigint>) — sig[i] = min over the doc's hashed
    shingles of xxhash64(i, h). Re-hashing the 64-bit shingle hash with the
    permutation index is an equally valid MinHash family and lets the
    num_perm × |shingles| inner loop run over longs, not strings — and the
    underlying (persisted) hashed-shingle relation is shared with the
    verification joins, so shingling happens once per document total."""
    if hashed_sets is None:
        hashed_sets = _hashed_shingle_sets(df, text_col, id_col, shingle_k)
    return _signatures(hashed_sets, num_perm)


def _explode_bands(
    sigs: DataFrame,
    perms: list[Column],
    bands: int,
    band_key: Callable[..., Column],
) -> DataFrame:
    """(id, band_id, band_hash): band b is ``band_key`` over its slice of
    ``len(perms) // bands`` permutation columns."""
    r = len(perms) // bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                band_key(*perms[b * r:(b + 1) * r]).alias("band_hash"),
            )
            for b in range(bands)
        ]
    )
    return sigs.select("id", F.explode(band_structs).alias("band")).select(
        "id", "band.band_id", "band.band_hash"
    )


def _band_buckets(sets: DataFrame, num_perm: int, bands: int) -> DataFrame:
    """(id, band_id, band_hash: bigint) for the xxhash64 family: each band
    keys on the xxhash64 of its signature slice."""
    perms = [F.element_at("sig", i + 1) for i in range(num_perm)]
    return _explode_bands(_signatures(sets, num_perm), perms, bands, F.xxhash64)


def xengine_shingle_sets(
    df: DataFrame, text_col: str, id_col: str, shingle_k: int = 3
) -> DataFrame:
    """(id, sh: array<string>) persisted STRING shingle sets for the
    cross-engine md5+Karp-Rabin family (the permutation hash needs the
    original shingle text, unlike the xxhash64 family's long sets)."""
    return (
        _spread_input(df)
        .select(
            F.col(id_col).alias("id"),
            distinct_shingles(text_col, shingle_k).alias("sh"),
        )
        .transform(invocation_pin)
    )


_XENGINE_P = 2147483647  # 2^31 - 1, prime — the affine-permutation modulus


def _xengine_affine(i: int, h: Column) -> Column:
    """Permutation i of a base-hash column: (A_i·h + B_i) mod P with fixed
    per-permutation constants (Knuth/xxhash multiplicative constants
    reduced mod P). A_i ≠ 0 because P is prime and divides neither factor.
    Mirrored constant-for-constant by the SQL oracles
    (plans/queries_llm.py::_SQL_AFFINE)."""
    a = (2654435761 * (i + 1)) % _XENGINE_P
    b = (2246822519 * i) % _XENGINE_P
    return (F.lit(a) * h + F.lit(b)) % F.lit(_XENGINE_P)


def xengine_band_buckets(
    shingle_sets: DataFrame, num_perm: int, bands: int
) -> DataFrame:
    """(id, band_id, band_hash: string) for the cross-engine family.

    Signature construction is Broder's classic scheme — ONE strong base
    hash per shingle (Karp-Rabin over md5(shingle), the idiom SQL can
    replay), then sig_i = min over the doc's shingles of the cheap affine
    permutation (A_i·h + B_i) mod 2^31-1 — NOT num_perm independent md5
    calls per shingle. That cuts the dominant md5+rolling-hash cost
    ~num_perm× on BOTH engines while every step stays ANSI-SQL integer
    arithmetic (measured warm at sf0.1: dedup_minhash_crossengine
    10.6 → 3.3 s, curation_leakage_split_minhash 10.6 → 3.7 s — on par
    with the xxhash64 production family, which stays the default for
    its long-only hashing).

    Plan shape: explode shingles → one hash per (id, shingle) row → a
    single groupBy(id) carrying num_perm small min() aggregates, which
    map-side combine to one row per id per partition — no (shingle ×
    permutation) row blowup, and no giant nested
    array_min(transform(...)) expression (that form measured ~25 s of
    whole-stage-codegen COMPILATION for 16 permutations). Band keys are
    the comma-joined signature slices (SQL-replayable, unlike xxhash64).
    """
    # Per-instance hashing is DELIBERATE here (r16 measured rejection of
    # the r15 DSIR vocabulary trick for shingles): hashing the distinct
    # shingle vocabulary once and joining back lost 13-30% on every
    # consumer in interleaved same-session A/Bs (minhash_crossengine
    # 1.78→2.14 s, simhash 2.58→3.37, split_minhash 2.25→2.56) — the
    # shingle vocab is near-corpus-sized (unlike DSIR's word vocab), so
    # the join adds an exchange of the (id, shingle-string) occurrence
    # relation that outweighs the saved md5 work; at open-vocabulary
    # scale the fallback shuffle join would move payload strings across
    # the network where per-instance hashing shuffles NOTHING (guide
    # §2.3: shuffle keys, not payloads).
    base = shingle_sets.select("id", F.explode("sh").alias("s")).select(
        "id", fingerprint_rolling(F.md5("s")).alias("h")
    )
    mins = base.groupBy("id").agg(
        *[
            F.min(_xengine_affine(i, F.col("h"))).alias(f"s{i}")
            for i in range(num_perm)
        ]
    )
    perms = [F.col(f"s{i}").cast("string") for i in range(num_perm)]
    return _explode_bands(
        mins, perms, bands, lambda *cols: F.concat_ws(",", *cols)
    )


class _Family(NamedTuple):
    """A MinHash hash family: ``shingle_sets(df, text_col, id_col,
    shingle_k)`` gives the pinned (id, sh) sets that the band table is
    built from and that the exact verify compares; ``band_table(sets,
    num_perm, bands)`` gives (id, band_id, band_hash).

    ``spread_pairs``: the batch pair operator pins its candidates and
    spreads them over the session's cores before the verify. The xxhash64
    operator does (its candidates are the public, multi-action
    ``minhash_lsh_candidates``); the crossengine one never has, and its
    catalog timings were measured without it."""

    shingle_sets: Callable[[DataFrame, str, str, int], DataFrame]
    band_table: Callable[[DataFrame, int, int], DataFrame]
    spread_pairs: bool


_FAMILIES = {
    "xxhash64": _Family(_hashed_shingle_sets, _band_buckets, True),
    "crossengine": _Family(xengine_shingle_sets, xengine_band_buckets, False),
}


def _family(name: str) -> _Family:
    try:
        return _FAMILIES[name]
    except KeyError:
        raise ValueError(
            f"unknown MinHash family {name!r}; use one of {sorted(_FAMILIES)}"
        ) from None


_BAND = ["band_id", "band_hash"]


def _band_pairs(
    buckets: DataFrame, max_bucket: int, probe: DataFrame | None = None
) -> DataFrame:
    """Distinct (id_a, id_b) sharing a band bucket of ``buckets`` — the
    banded equi-join on (band_id, band_hash). Buckets with more than
    ``max_bucket`` members are dropped: the boilerplate guardrail, since at
    100 TB one viral doc cluster would otherwise make a quadratic bucket.

    Without ``probe`` the capped buckets self-join (id_a < id_b). With it,
    each probe row (id_a) joins the capped buckets (id_b), so only the
    ``buckets`` side is capped."""
    sizes = buckets.groupBy(*_BAND).agg(F.count("*").alias("bucket_n"))
    bounded = buckets.join(sizes.filter(F.col("bucket_n") <= max_bucket), _BAND)
    left = bounded if probe is None else probe
    pairs = left.select(*_BAND, F.col("id").alias("id_a")).join(
        bounded.select(*_BAND, F.col("id").alias("id_b")), _BAND
    )
    if probe is None:
        pairs = pairs.filter(F.col("id_a") < F.col("id_b"))
    return pairs.select("id_a", "id_b").distinct()


def _pair_sets(cands: DataFrame, sets_a: DataFrame, sets_b: DataFrame) -> DataFrame:
    """The (id_a, id_b) candidates with their shingle sets sh_a, sh_b."""
    return cands.join(
        sets_a.withColumnsRenamed({"id": "id_a", "sh": "sh_a"}), "id_a"
    ).join(sets_b.withColumnsRenamed({"id": "id_b", "sh": "sh_b"}), "id_b")


def _verify_jaccard(
    cands: DataFrame, sets_a: DataFrame, sets_b: DataFrame, threshold: float
) -> DataFrame:
    """(id_a, id_b, jaccard) for the candidates whose exact shingle-set
    Jaccard reaches ``threshold``. Both sides are distinct sets, so
    |A ∪ B| = |A| + |B| − |A ∩ B|: one array op per candidate, and the
    same double as |A ∩ B| / |A ∪ B|."""
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jaccard = inter / (F.size("sh_a") + F.size("sh_b") - inter)
    return (
        _pair_sets(cands, sets_a, sets_b)
        .withColumn("jaccard", jaccard)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _lsh_candidates(
    sets: DataFrame, fam: _Family, num_perm: int, bands: int, max_bucket: int
) -> DataFrame:
    # The bucket relation feeds three consumers (the size guardrail and
    # both self-join sides), so it is pinned: one (id, band) row per doc
    # per band, far smaller than the shingle relation pinned underneath.
    # Under pinStrategy=persist it must not be unpersisted here: the
    # result is still lazy.
    buckets = fam.band_table(sets, num_perm, bands).transform(invocation_pin)
    return _band_pairs(buckets, max_bucket)


def _minhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    family: str,
    threshold: float,
    num_perm: int,
    bands: int,
    shingle_k: int = 3,
    max_bucket: int = 200,
) -> DataFrame:
    """Banded-LSH candidates of ``family`` verified with exact Jaccard."""
    fam = _family(family)
    sh = fam.shingle_sets(df, text_col, id_col, shingle_k)
    cands = _lsh_candidates(sh, fam, num_perm, bands, max_bucket)
    if fam.spread_pairs:
        cands = _spread(cands.transform(invocation_pin))
    return _verify_jaccard(cands, sh, sh, threshold).transform(invocation_pin)


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    max_bucket: int = 200,
    hashed_sets: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) from xxhash64 LSH banding.

    A pair is a candidate iff it collides in ≥1 band whose bucket has at
    most ``max_bucket`` members. The result is pinned once per invocation,
    so multi-action consumers (connected components' count + collect,
    curation drops) compute the pair pipeline once."""
    if hashed_sets is None:
        hashed_sets = _hashed_shingle_sets(df, text_col, id_col, shingle_k)
    return _lsh_candidates(
        hashed_sets, _FAMILIES["xxhash64"], num_perm, bands, max_bucket
    ).transform(invocation_pin)


def minhash_lsh_dedup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.7,
    num_perm: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
) -> DataFrame:
    """LSH candidates verified with exact shingle-set Jaccard ≥ threshold."""
    return _minhash_pairs(
        df, text_col, id_col, "xxhash64", threshold, num_perm, bands, shingle_k
    )


def minhash_crossengine_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    shingle_k: int = 3,
    max_bucket: int = 200,
) -> DataFrame:
    """MinHash-LSH near-dup pairs with a CROSS-ENGINE hash family.

    Identical pipeline to :func:`minhash_lsh_dedup_pairs` — signature →
    banding → bucket-size cap → equi-join candidates → exact-Jaccard
    verify — but the permutation family is ``(A_i · KarpRabin(md5(
    shingle)) + B_i) mod 2^31-1`` (one strong base hash, cheap affine
    permutations — Broder's construction) instead of ``xxhash64``, and
    band keys are the signature slices themselves (comma-joined). Every
    step is then expressible in ANSI SQL, so a DuckDB oracle can replay
    the ENTIRE banded pipeline value-for-value — upgrading the LSH
    machinery from a rows-only check to a hard differential one. The
    xxhash64 family stays the production default (JVM-codegen long
    hashing, no string materialization); this variant exists to prove
    the machinery, at a deliberately smaller num_perm.
    """
    return _minhash_pairs(
        df, text_col, id_col, "crossengine", threshold, num_perm, bands,
        shingle_k, max_bucket,
    )


class MinHashCorpusIndex:
    """Persisted MinHash-LSH corpus index for INCREMENTAL dedup.

    The batch operators above answer "which pairs inside this table are
    near-dups". A training-data pipeline's steady state is different: a
    CORPUS already exists, and each new crawl batch must be screened
    against it. Recomputing corpus signatures per batch is O(corpus) work
    for O(batch) questions; this index persists them once:

        <root>/bands/     (id, band_id, band_hash), partitioned by band_id
        <root>/shingles/  (id, sh) the family's shingle sets for exact verify
        <root>/meta.json  num_perm / bands / shingle_k / family

    ``family`` names an entry of ``_FAMILIES``; the index builds, signs
    and verifies through that entry, so a match equals the batch pair
    operator of the same family and settings restricted to (new, corpus)
    pairs. ``match_new`` shingles + signs ONLY the incoming batch, runs the
    batch operators' band join with only the corpus side capped, and
    verifies candidates with the same exact Jaccard against the persisted
    shingle sets — corpus-side cost is an index scan, never re-shingling.
    ``add`` appends the new docs' rows so the next batch screens against
    them too.
    """

    BANDS = "bands"
    SHINGLES = "shingles"
    META = "meta.json"

    def __init__(self, root: str):
        self.root = root

    @staticmethod
    def _meta_path(root: str) -> str:
        return os.path.join(root, MinHashCorpusIndex.META)

    @staticmethod
    def exists(root: str) -> bool:
        """True once ``build`` has persisted an index at ``root``."""
        return os.path.exists(MinHashCorpusIndex._meta_path(root))

    def _shingle(self, docs: DataFrame, text_col: str, id_col: str):
        """(meta, family, pinned shingle sets of ``docs``) under the index's
        stored settings."""
        with open(self._meta_path(self.root)) as f:
            meta = json.load(f)
        fam = _family(meta.get("family", "xxhash64"))
        return meta, fam, fam.shingle_sets(docs, text_col, id_col, meta["shingle_k"])

    @classmethod
    def build(
        cls,
        corpus: DataFrame,
        text_col: str,
        id_col: str,
        root: str,
        num_perm: int = 32,
        bands: int = 8,
        shingle_k: int = 3,
        family: str = "xxhash64",
    ) -> "MinHashCorpusIndex":
        """``family``: "xxhash64" (production default — JVM long hashing)
        or "crossengine" (md5+Karp-Rabin over string shingles, slower but
        SQL-replayable, so the whole incremental screening path admits a
        hard differential oracle). Any other name raises ``ValueError``
        before anything is written."""
        fam = _family(family)
        idx = cls(root)
        sh = fam.shingle_sets(corpus, text_col, id_col, shingle_k)
        idx._write(fam, sh, num_perm, bands, mode="overwrite")
        os.makedirs(root, exist_ok=True)
        with open(cls._meta_path(root), "w") as f:
            json.dump(
                {"num_perm": num_perm, "bands": bands,
                 "shingle_k": shingle_k, "family": family},
                f,
            )
        sh.unpersist()
        return idx

    def _write(
        self, fam: _Family, sets: DataFrame, num_perm: int, bands: int, mode: str
    ) -> None:
        (
            # hash-partitioned by band → one file per band directory
            fam.band_table(sets, num_perm, bands)
            .repartition("band_id")
            .write.mode(mode)
            .partitionBy("band_id")
            .parquet(os.path.join(self.root, self.BANDS))
        )
        sets.write.mode(mode).parquet(os.path.join(self.root, self.SHINGLES))

    def match_new(
        self,
        spark,
        new_docs: DataFrame,
        text_col: str,
        id_col: str,
        threshold: float = 0.7,
        max_bucket: int = 200,
    ) -> DataFrame:
        """(new_id, corpus_id, jaccard) for every new doc near-duplicating
        an indexed corpus doc. Only the new batch is shingled/signed."""
        meta, fam, new_sh = self._shingle(new_docs, text_col, id_col)
        new_buckets = fam.band_table(new_sh, meta["num_perm"], meta["bands"])
        bands_dir = os.path.join(self.root, self.BANDS)
        reader = spark.read
        if not any(d.startswith("band_id=") for d in os.listdir(bands_dir)):
            # built from zero docs: no band file to infer the schema from
            reader = reader.schema(new_buckets.schema)
        corpus_buckets = reader.parquet(bands_dir)
        cands = _band_pairs(corpus_buckets, max_bucket, probe=new_buckets)
        corpus_sh = spark.read.parquet(os.path.join(self.root, self.SHINGLES))
        return _verify_jaccard(_spread(cands), new_sh, corpus_sh, threshold).select(
            F.col("id_a").alias("new_id"), F.col("id_b").alias("corpus_id"), "jaccard"
        )

    def add(
        self, spark, new_docs: DataFrame, text_col: str, id_col: str
    ) -> None:
        """Index the new batch's docs so later batches screen against them."""
        meta, fam, sh = self._shingle(new_docs, text_col, id_col)
        self._write(fam, sh, meta["num_perm"], meta["bands"], mode="append")
        sh.unpersist()


# ---------------------------------------------------------------------------
# SimHash near-dup
# ---------------------------------------------------------------------------

SIMHASH_BITS = 60  # stay clear of the sign bit of a 64-bit long


def crossengine_feature_hash(tok: F.Column) -> F.Column:
    """60-bit feature hash both engines can compute: two seeded
    KarpRabin(md5(...)) 30-bit halves packed side by side. Slower than
    xxhash64 (string md5 + char fold vs one long hash) — exists so the
    SimHash pipeline can be replayed value-for-value in a SQL oracle."""
    half_mask = F.lit((1 << 30) - 1)
    h1 = fingerprint_rolling(F.md5(F.concat(F.lit("a:"), tok))).bitwiseAND(
        half_mask
    )
    h2 = fingerprint_rolling(F.md5(F.concat(F.lit("b:"), tok))).bitwiseAND(
        half_mask
    )
    return h1.bitwiseOR(F.shiftleft(h2, 30))


def simhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int = 3,
    hash_expr=None,
) -> DataFrame:
    """(id, simhash) — per-bit majority vote over feature xxhash64 values
    (or ``hash_expr(tok_col)``, e.g. :func:`crossengine_feature_hash`).

    Features are k-shingles (default 3): unigram tokens make the vote
    collapse onto the corpus-wide shared vocabulary (on template-generated
    text nearly every doc pair lands within small hamming distance —
    measured 1958 vs 13 candidate pairs at hamming ≤ 3 on the sf0.01
    documents); shingles carry local word order, so the signature
    discriminates. ``shingle_k=1`` recovers plain token SimHash.

    Explode to (id, feature) then one groupBy(id) with 60 conditional sums;
    both steps are codegen hash-aggregates."""
    feats = (
        distinct_shingles(text_col, shingle_k)
        if shingle_k > 1
        else F.array_distinct(tokens(text_col))
    )
    # Per-instance hashing for BOTH families (r16 measured rejection of
    # the vocab-join variant for the custom md5 family: +30% interleaved
    # on dedup_simhash_crossengine — the n-gram feature vocabulary is
    # near-corpus-sized, so the join-back exchange outweighs the saved
    # hash work; see xengine_band_buckets for the full analysis).
    exploded = _spread_input(df).select(
        F.col(id_col).alias("id"),
        F.explode(feats).alias("tok"),
    ).withColumn(
        "h",
        F.xxhash64("tok") if hash_expr is None else hash_expr(F.col("tok")),
    )
    votes = exploded.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.expr(f"(h >> {j}) & 1") == 1, 1).otherwise(-1)
            ).alias(f"b{j}")
            for j in range(SIMHASH_BITS)
        ]
    )
    sim = None
    for j in range(SIMHASH_BITS):
        term = F.when(F.col(f"b{j}") > 0, F.lit(1).cast("bigint") * (2**j)).otherwise(
            F.lit(0).cast("bigint")
        )
        sim = term if sim is None else sim + term
    return votes.select("id", sim.alias("simhash"))


def simhash_dedup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    chunks: int = 4,
    shingle_k: int = 3,
    hash_expr=None,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ max_hamming.

    Blocking: split the signature into ``chunks`` bit-ranges; by pigeonhole
    any pair within hamming ≤ chunks-1 collides on ≥1 exact chunk, so
    candidates come from equi-joins on (chunk_id, chunk_value). Recall is
    therefore only guaranteed for ``max_hamming <= chunks - 1`` — reject
    anything looser instead of silently returning an incomplete pair set."""
    if max_hamming > chunks - 1:
        raise ValueError(
            f"pigeonhole blocking with chunks={chunks} only guarantees "
            f"recall for max_hamming <= {chunks - 1}, got {max_hamming}; "
            "raise `chunks` to widen the radius"
        )
    sigs = simhash_signatures(df, text_col, id_col, shingle_k, hash_expr)
    bits_per_chunk = SIMHASH_BITS // chunks
    chunk_structs = F.array(
        *[
            F.struct(
                F.lit(c).alias("chunk_id"),
                F.expr(
                    f"(simhash >> {c * bits_per_chunk}) & "
                    f"{(1 << bits_per_chunk) - 1}"
                ).alias("chunk_val"),
            )
            for c in range(chunks)
        ]
    )
    chunked = sigs.select(
        "id", "simhash", F.explode(chunk_structs).alias("c")
    ).select("id", "simhash", "c.chunk_id", "c.chunk_val")
    a = chunked.select(
        "chunk_id", "chunk_val",
        F.col("id").alias("id_a"), F.col("simhash").alias("sim_a"),
    )
    b = chunked.select(
        "chunk_id", "chunk_val",
        F.col("id").alias("id_b"), F.col("simhash").alias("sim_b"),
    )
    return (
        a.join(b, ["chunk_id", "chunk_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.expr("bit_count(sim_a ^ sim_b)").cast("bigint").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup (exact, blocked)
# ---------------------------------------------------------------------------


def _df_ordered(sh: DataFrame) -> DataFrame:
    """(id, ln, oss): each doc's hashed shingles as (df, hs) structs in the
    one global order both prefix filters rely on — document frequency
    ascending (rarest first, which minimizes candidates), then hash. One
    shuffle join on the hash + one hash-agg back to (id, ordered-array)."""
    tok = sh.select("id", F.size("sh").alias("ln"), F.explode("sh").alias("hs"))
    dfreq = tok.groupBy("hs").agg(F.count("*").alias("df"))
    return (
        tok.join(dfreq, "hs")
        .groupBy("id", "ln")
        .agg(F.array_sort(F.collect_list(F.struct("df", "hs"))).alias("oss"))
    )


def _prefix(threshold: float) -> Column:
    """The first |s| - ceil(t·|s|) + 1 ordered elements: any pair reaching
    overlap ceil(t·|s|) must share one of them."""
    n = (F.col("ln") - F.ceil(F.lit(threshold) * F.col("ln")) + 1).cast("int")
    return F.slice("oss", 1, n)


def _positions(ordered: DataFrame, elems: Column) -> DataFrame:
    """(id, ln, pos, hs): one row per element of ``elems`` with its 1-based
    position, for the PPJoin positional filter (Xiao et al., "Efficient
    Similarity Joins for Near Duplicate Detection", WWW 2008)."""
    return ordered.select(
        "id", "ln", F.posexplode(elems).alias("pos0", "p")
    ).select("id", "ln", (F.col("pos0") + 1).alias("pos"), F.col("p.hs").alias("hs"))


def _prefix_candidates(
    a: DataFrame, b: DataFrame, pair_filter: Column, alpha: Column
) -> DataFrame:
    """(id_a, id_b) of position rows ``a`` × ``b`` sharing a hash, kept
    when ``pair_filter`` holds and the grouped positional bound reaches the
    required overlap ``alpha``.

    Grouped positional bound (r16 — PPJoin's per-occurrence check upgraded
    to the pair-level count+position filter, lossless): let c be the
    number of shared elements of a candidate pair and (pa, pb) the
    positions of the LAST one. Both sides are slices of the same global
    (df, hash) order, so any common element outside those c sits after pa
    in a AND after pb in b (were it before pa in a it would precede the
    last shared element in the global order and hence sit inside BOTH
    slices — i.e. be one of the c). Therefore overlap ≤ c + min(|a|−pa,
    |b|−pb). The groupBy replaces the r15 per-occurrence check + distinct
    on the same shuffle key, and measurably fewer pairs reach the exact
    verify (guide §2.3: drop rows before the expensive stage). It must
    aggregate ALL join hits — pre-filtering occurrences would undercount
    c and make the bound unsound."""

    def side(pos: DataFrame, s: str) -> DataFrame:
        return pos.select(
            "hs", F.col("id").alias(f"id_{s}"),
            F.col("ln").alias(f"ln_{s}"), F.col("pos").alias(f"pos_{s}"),
        )

    gbound = F.col("cp") + F.least(
        F.col("ln_a") - F.col("mpa"), F.col("ln_b") - F.col("mpb")
    )
    return (
        side(a, "a").join(side(b, "b"), "hs")
        .filter(pair_filter)
        .groupBy("id_a", "id_b", "ln_a", "ln_b")
        .agg(
            F.count("*").alias("cp"),
            F.max("pos_a").alias("mpa"),
            F.max("pos_b").alias("mpb"),
        )
        .filter(gbound >= alpha)
        .select("id_a", "id_b")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    shingle_k: int = 3,
) -> DataFrame:
    """ALL pairs with exact shingle-set Jaccard ≥ threshold, via prefix
    filtering (the AllPairs/PPJoin family of set-similarity joins).

    Lossless pruning, two rules:
      * length filter — Jaccard ≥ t forces t·|larger| ≤ |smaller|;
      * prefix filter — order every set by one global total order (document
        frequency ascending, so rarest shingles first, which minimizes
        candidates); any two sets with Jaccard ≥ t must share ≥1 element
        within their first |s| - ceil(t·|s|) + 1 elements.

    Candidate generation is therefore an equi-join on the 8-byte xxhash of
    prefix shingles (hash collisions only ADD candidates — verification is
    exact), never a bucket cross-join: at 100 TB the pair count is bounded
    by co-occurrence of *rare* shingles, not by O(n²) inside length blocks.
    """
    # Hash every shingle to a 64-bit long up front: all downstream shuffles,
    # sorts, and set ops run on 8-byte keys instead of ~20-char strings.
    # A cross-doc collision would need two distinct shingles of the SAME doc
    # pair to collide in 64 bits — vanishing even at 100 TB vocabulary, and
    # it could only perturb a pair sitting exactly on the threshold.
    sh = _hashed_shingle_sets(df, text_col, id_col, shingle_k)
    # Persisted (r15): the self-join consumes idx on BOTH sides, so an
    # unpersisted idx re-executes the whole dfreq-join + per-doc sort chain
    # twice (guide §2.4 — two operations keyed the same way should share one
    # computation). idx is the PREFIX tokens only (~(1−t)·shingle count), a
    # strict fraction of the already-persisted shingle relation.
    idx = _positions(_df_ordered(sh), _prefix(threshold)).transform(invocation_pin)
    # Jaccard ≥ t ⇔ overlap ≥ α = ceil(t/(1+t)·(|a|+|b|))
    alpha = F.ceil(
        F.lit(threshold) / (1.0 + threshold) * (F.col("ln_a") + F.col("ln_b"))
    )
    pair_filter = (
        (F.col("id_a") < F.col("id_b"))
        & (F.col("ln_a") >= threshold * F.col("ln_b"))
        & (F.col("ln_b") >= threshold * F.col("ln_a"))
    )
    cands = _prefix_candidates(idx, idx, pair_filter, alpha)
    return _verify_jaccard(_spread(cands), sh, sh, threshold).transform(
        invocation_pin
    )


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    shingle_k: int = 3,
) -> DataFrame:
    """ALL ordered pairs where the smaller document's shingle set is
    ≥ ``threshold`` CONTAINED in the larger's: C(a→b) = |Sa ∩ Sb| / |Sa|
    — the asymmetric sibling of :func:`ngram_jaccard_pairs`. Jaccard
    misses sub-duplication (a paragraph wrapped in boilerplate, a quoted
    email inside a thread, a doc embedded in a crawl page): when
    |Sb| ≫ |Sa| the union dilutes Jaccard below any threshold while
    containment stays at 1. Training-data pipelines dedup on BOTH.

    Lossless pruning (the asymmetric AllPairs containment join):
    C ≥ t ⇔ overlap ≥ ⌈t·|Sa|⌉, so the CONTAINED side probes with only
    its first |Sa| − ⌈t·|Sa|⌉ + 1 shingles in global df-ascending order
    (rarest first — any qualifying pair must share one of them), while
    the CONTAINER side is indexed on ALL its shingles (no symmetric
    prefix exists: b's extra mass is unbounded). The grouped positional
    bound of :func:`ngram_jaccard_pairs` holds here too (the probe prefix
    and the full index share one global order) and prunes candidates
    before the exact verify, losslessly (Xiao et al., WWW 2008, adapted to
    the containment measure).

    Scale shape: candidate volume is bounded by co-occurrence of RARE
    probe shingles × container df — never O(n²); the verify joins the
    ≤-candidate pairs back to the hashed shingle sets. Orientation:
    (contained, container) with ln_a < ln_b, ties broken id_a < id_b
    (equal-size sets have symmetric containment)."""
    sh = _hashed_shingle_sets(df, text_col, id_col, shingle_k)
    ordered = _df_ordered(sh)
    pair_filter = (F.col("ln_a") < F.col("ln_b")) | (
        (F.col("ln_a") == F.col("ln_b")) & (F.col("id_a") < F.col("id_b"))
    )
    cands = _prefix_candidates(
        _positions(ordered, _prefix(threshold)),
        _positions(ordered, F.col("oss")),
        pair_filter,
        F.ceil(F.lit(threshold) * F.col("ln_a")),
    )
    containment = F.size(F.array_intersect("sh_a", "sh_b")) / F.size("sh_a")
    return (
        _pair_sets(_spread(cands), sh, sh)
        .withColumn("containment", containment)
        .filter(F.col("containment") >= threshold)
        .select(
            F.col("id_a").alias("contained_id"),
            F.col("id_b").alias("container_id"),
            "containment",
        )
        .transform(invocation_pin)
    )


def duplicated_span_report(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document repeated-span detection at n-gram granularity — the
    relational re-expression of exact substring deduplication (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better", ACL 2022,
    which uses a suffix array; an n-token sliding window over a shuffle-
    friendly groupBy finds the same cross-document repeats without any
    global suffix order).

    A length-``n`` token window is *duplicated* when it occurs in at least
    ``min_docs`` distinct documents. Per document the report gives: the
    number of window positions whose n-gram is duplicated (``dup_ngrams``)
    and the number of token positions covered by at least one duplicated
    window (``covered_tokens`` — the union of the [pos, pos+n) intervals,
    computed exactly by exploding each hit to its n positions and counting
    distinct). ``dup_fraction = covered_tokens / n_tokens`` is the signal a
    curation pass thresholds on to drop boilerplate-heavy documents.

    Scale (100 TB): two shuffles keyed by the n-gram — the distinct-doc
    count and the hit join — plus one by id for the final aggregate. The
    coverage explode is bounded by n·dup_ngrams rows pre-distinct and
    n_tokens per doc post-distinct, never corpus-quadratic. Hot n-grams
    (template boilerplate in millions of docs) fan out only as one hit row
    per occurrence — no pairwise blowup, which is exactly why the report
    form scales where the pair-listing form cannot. At full scale the gram
    string would be xxhash64-packed before the shuffles (8-byte keys, as
    ``ngram_jaccard_pairs`` does); kept as the raw string here so a SQL
    oracle can replay the pipeline value-for-value.
    """
    toks = _spread_input(df).select(
        id_col, F.split(F.trim(F.col(text_col)), r"\s+").alias("t")
    )
    grams = (
        toks.where(F.size("t") >= n)
        .select(
            id_col,
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - (n - 1)),
                    lambda i: F.array_join(F.slice("t", i, n), " "),
                )
            ).alias("pos", "g"),
        )
    )
    dupg = (
        grams.select("g", id_col)
        .distinct()
        .groupBy("g")
        .agg(F.count("*").alias("ndocs"))
        .where(F.col("ndocs") >= min_docs)
        .select("g")
    )
    # ONE derivation of the hit relation (r15): dup_ngrams and
    # covered_tokens fold into a single aggregate — per (id, pos) hit
    # the position explode emits n rows, so countDistinct(pos) recovers
    # the hit count exactly while countDistinct(p) is the covered-token
    # union. The old dupcnt/covered pair referenced hits twice, and
    # Catalyst re-derives a referenced subtree per consumer — the n-gram
    # string construction (the report's dominant cost) compiled 4×
    # (10 parquet scans); this form compiles it twice (once under the
    # duplicated-gram aggregate, once under the hit join).
    hits = grams.join(dupg, "g")
    rep = (
        hits.select(
            id_col,
            "pos",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + (n - 1))).alias("p"),
        )
        .groupBy(id_col)
        .agg(
            F.countDistinct("pos").alias("dup_ngrams"),
            F.countDistinct("p").alias("covered_tokens"),
        )
    )
    base = toks.select(id_col, F.size("t").cast("bigint").alias("n_tokens"))
    cov = F.coalesce(F.col("covered_tokens"), F.lit(0).cast("bigint"))
    return (
        base.join(rep, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            F.coalesce(F.col("dup_ngrams"), F.lit(0).cast("bigint")).alias(
                "dup_ngrams"
            ),
            cov.alias("covered_tokens"),
            stable_round(cov / F.col("n_tokens"), 6).alias("dup_fraction"),
        )
    )


# ---------------------------------------------------------------------------
# embedding-cosine near-dup
# ---------------------------------------------------------------------------


def embedding_cosine_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.95,
    sign_bits: int = 8,
) -> DataFrame:
    """Pairs with cosine ≥ threshold. With sign_bits > 0 (the default),
    blocks by the sign pattern of the leading dims (random-hyperplane-style
    bucketing with axis-aligned planes) so the self-join is per-bucket;
    near-dup vectors (cosine ≈ 1) almost surely share the sign pattern.

    ``sign_bits=0`` is the exact brute-force form — an O(n²) crossJoin kept
    only as the oracle/audit path; callers must opt in explicitly."""
    v = _spread_input(df).select(
        F.col(id_col).alias("id"), as_double_array(vec_col).alias("v")
    )
    if sign_bits > 0:
        bucket = None
        for i in range(sign_bits):
            bit = F.when(F.element_at("v", i + 1) >= 0, 2**i).otherwise(0)
            bucket = bit if bucket is None else bucket + bit
        v = v.withColumn("bkt", bucket)
        join_on = ["bkt"]
        a = v.select("bkt", F.col("id").alias("id_a"), F.col("v").alias("v_a"))
        b = v.select("bkt", F.col("id").alias("id_b"), F.col("v").alias("v_b"))
        paired = a.join(b, join_on)
    else:
        a = v.select(F.col("id").alias("id_a"), F.col("v").alias("v_a"))
        b = v.select(F.col("id").alias("id_b"), F.col("v").alias("v_b"))
        paired = a.crossJoin(b)
    sim = cosine(F.col("v_a"), F.col("v_b"))
    return (
        paired.filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", sim.alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
    )


def semantic_dedup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    n_clusters: int = 16,
    threshold: float = 0.95,
    seed: int = 42,
    sample_fraction: float | None = None,
) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs (Abbas et al., 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): cluster embeddings with KMeans, then compare vectors
    ONLY within their cluster — pairs with cosine ≥ ``threshold`` are
    semantic duplicates.

    Versus ``embedding_cosine_pairs`` (axis-aligned sign blocking), the
    blocks here are data-adaptive: learned centroids follow the actual
    embedding distribution, so near-identical vectors co-locate even when
    they straddle a coordinate hyperplane. Recall is bounded by cluster
    assignment (a near-dup pair split across two clusters is missed) — the
    standard SemDeDup trade, mitigated by keeping clusters coarse.

    Scale shape: quantizer trains on a sample (centroids are tiny driver
    state); assignment is one model.transform projection; candidate
    generation is a self-equi-join on ``cluster_id`` — per-cluster n²/k,
    never corpus n². At 100 TB the assignment is written bucketed by
    cluster_id once and each cluster joins within its own partition.
    """
    from databricks_etl_pipelines_spark.operators.similarity import ivf_index

    assigned, _ = ivf_index(
        df,
        vec_col,
        id_col,
        nlist=n_clusters,
        seed=seed,
        sample_fraction=sample_fraction,
    )
    pts = assigned.select("id", "v", F.col("list_id").alias("cluster_id"))
    a = pts.select(
        "cluster_id", F.col("id").alias("id_a"), F.col("v").alias("v_a")
    )
    b = pts.select(
        "cluster_id", F.col("id").alias("id_b"), F.col("v").alias("v_b")
    )
    sim = cosine(F.col("v_a"), F.col("v_b"))
    return (
        a.join(b, "cluster_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "cluster_id", sim.alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
    )


def semantic_dedup_pairs_deterministic(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.3,
    n_clusters: int = 16,
    centroid_stride: int = 29,
    round_digits: int = 6,
) -> DataFrame:
    """SemDeDup pairs with a DETERMINISTIC coarse quantizer — the
    cross-engine-verifiable sibling of :func:`semantic_dedup_pairs`
    (whose KMeans centroids are seeded engine state). Blocking quality is
    below learned clusters (centroids are strided corpus points), which
    only costs RECALL of the blocking stage — the within-cluster cosine
    stage is exact either way, and here every cluster assignment and
    every pair decision replays value-for-value in SQL.

    The threshold compares the ROUNDED cosine (stable half-up at
    ``round_digits``), so a sub-ulp fold-order difference between engines
    cannot flip membership at the boundary.

    Scale shape: one broadcast assignment (grid + hash agg, zero fact
    shuffles) + a per-cluster self-join — the same bucketed-join skeleton
    as the sign-blocked cosine pairs, with data-placed buckets.
    """
    from databricks_etl_pipelines_spark.operators.similarity import (
        assign_deterministic_lists,
    )

    assigned, _ = assign_deterministic_lists(
        df, vec_col, id_col, nlist=n_clusters,
        centroid_stride=centroid_stride,
    )
    a = assigned.select(
        F.col("id").alias("id_a"), F.col("v").alias("__va"),
        F.col("list_id").alias("cluster_id"),
    )
    b = assigned.select(
        F.col("id").alias("id_b"), F.col("v").alias("__vb"),
        F.col("list_id").alias("cluster_id"),
    )
    sim = stable_round(
        cosine(F.col("__va"), F.col("__vb")), round_digits
    )
    return (
        a.join(b, "cluster_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "cluster_id", sim.alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
    )
