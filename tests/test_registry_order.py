"""Registry ordering contract.

``all_queries()`` and ``all_oracles()`` read ``REGISTRY`` in insertion
order: every query needs an oracle, and the two dicts agree on keys and
order, so ``scripts/check_oracle.py`` walks both in step.
"""

from databatchprotectionservice_spark.plans import registry

PROMOTED = (
    "parquet_page_prune_real",
    "ingest_arrow_dict_views",
    "ingest_arrow_compressed",
    "parquet_bloom_prune_real",
    "ingest_orc_values_real",
)


def test_every_query_has_an_oracle_in_the_same_order():
    queries = registry.all_queries()
    oracles = registry.all_oracles()
    assert list(queries) == list(oracles)
    assert all(isinstance(sql, str) and sql.strip() for sql in oracles.values())


def test_queries_follow_registry_insertion_order():
    registry._ensure_loaded()
    assert list(registry.all_queries()) == list(registry.REGISTRY)
    oracles = registry.all_oracles()
    for name in PROMOTED:
        assert name in registry.REGISTRY
        assert oracles[name].strip()
