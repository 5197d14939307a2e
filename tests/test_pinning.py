"""The session-gated pin strategy (r16, closes the r15 ADVICE medium
item): every multi-consumer intermediate pin routes through
``session.invocation_pin``, so ONE session conf switches the whole
engine between the invocation-scoped lazy localCheckpoint (default —
bench-honest, but blocks are executor-pinned), lineage-preserving
persist (robust under dynamic allocation / executor loss), and no
pinning at all (plan inspection / conservative fallback). The results
of every operator must be IDENTICAL under all three — pinning is an
execution strategy, never semantics.
"""

from __future__ import annotations

import pytest

from databricks_etl_pipelines_spark import catalog
from databricks_etl_pipelines_spark.session import PIN_STRATEGY_CONF

# One representative per pinned family: PPJoin pair generation (shingle
# sets + prefix index pins), MinHash-LSH (bucket pin + release), the
# rank-cut machinery (tl/med/totals pins), BM25 (piv pin), DSIR
# (doc_bucket pin), aHash near-dup (feats pin).
_QUERIES = (
    "dedup_ngram_jaccard_pairs",
    "dedup_minhash_lsh_pairs",
    "agg_mad_robust_z",
    "text_bm25_topk",
)


@pytest.fixture(scope="module", autouse=True)
def _restore_strategy(spark):
    yield
    spark.conf.set(PIN_STRATEGY_CONF, "localCheckpoint")
    spark.catalog.clearCache()


def test_pin_strategies_agree(spark, sf_dir):
    catalog.load_all()
    reference: dict[str, list] = {}
    for mode in ("localCheckpoint", "persist", "none"):
        spark.conf.set(PIN_STRATEGY_CONF, mode)
        for name in _QUERIES:
            rows = sorted(
                map(tuple, catalog.QUERIES[name](spark, sf_dir).collect())
            )
            if mode == "localCheckpoint":
                reference[name] = rows
            else:
                assert rows == reference[name], (
                    f"{name}: results differ under pinStrategy={mode}"
                )
        # persist mode caches for the session lifetime by design — evict
        # between modes so the next mode computes from parquet.
        spark.catalog.clearCache()


def test_default_strategy_is_invocation_scoped(spark, sf_dir):
    """The default leaves NOTHING in the session cache: a later run of
    the same query must recompute from parquet (bench honesty — a leaked
    cache entry would serve the warm half of min-of-2 measurements)."""
    catalog.load_all()
    spark.conf.unset(PIN_STRATEGY_CONF)
    catalog.QUERIES["dedup_ngram_jaccard_pairs"](spark, sf_dir).collect()
    # CacheManager's registry is empty: no plan fragment survived.
    jsc = spark._jsparkSession.sharedState().cacheManager()
    assert jsc.isEmpty(), "default pin strategy leaked a session cache entry"


def test_unknown_strategy_is_rejected(spark):
    """A typo must fail loudly, naming the valid values, instead of
    silently falling back to the default localCheckpoint."""
    from databricks_etl_pipelines_spark.session import invocation_pin

    spark.conf.set(PIN_STRATEGY_CONF, "Persist")
    try:
        with pytest.raises(
            ValueError, match="'localCheckpoint', 'persist' or 'none'"
        ):
            invocation_pin(spark.range(3))
    finally:
        spark.conf.unset(PIN_STRATEGY_CONF)
