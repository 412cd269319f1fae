"""Shared pytest fixtures: one SparkSession per test run, tiny corpus."""

from __future__ import annotations

import gc

import pytest

from address_match_recommend_spark.datagen import Corpus, corpus_to_spark, generate_corpus
from address_match_recommend_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # cores and heap come from the host (session.host_cores/host_heap_mb):
    # a fixed 8 cores / 16g heap got the JVM OOM-killed on a 15 GB host
    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="module", autouse=True)
def _clear_spark_cache_between_modules(request):
    """Every pipeline test persists ~10 frames and localCheckpoints CC
    iterations; with one shared session across 100+ tests the heap fills
    with dead cached blocks and late modules OOM (observed at 8g).
    Unpersist everything after each module (module-scoped fixtures keep
    their frames alive within the module; nothing outlives one) and nudge
    GC so py4j releases JVM refs and the ContextCleaner can drop
    localCheckpoint RDD blocks."""
    yield
    try:
        from pyspark.sql import SparkSession

        active = SparkSession.getActiveSession()
        if active is not None:
            active.catalog.clearCache()
    except Exception:
        pass
    gc.collect()


@pytest.fixture(scope="session")
def tiny_corpus() -> Corpus:
    return generate_corpus(n_entities=12, seed=42)


@pytest.fixture(scope="session")
def tiny_tables(spark, tiny_corpus):
    return corpus_to_spark(spark, tiny_corpus)
