"""cfg.hash_token_features — int64 feature ids for the token stream.

The flag swaps the token string for xxhash64(token) inside run_pipeline
(plans/pipeline.py) so every downstream shuffle of the ~200×-exploded
token stream moves fixed-width longs. These tests pin that the swap is
semantics-preserving end to end: identical clusters with the flag on and
off, in both the default and the structure-aware (typed tokens +
nturns near-miss, the element_at key-domain fix in scoring.py) modes,
and that the coord_density parity gate keeps strings.
"""

from __future__ import annotations

import pytest
from pyspark.sql.types import LongType, StringType

from address_match_recommend_spark.config import PipelineConfig
from address_match_recommend_spark.datagen import corpus_to_spark, generate_corpus
from address_match_recommend_spark.plans.pipeline import run_pipeline


@pytest.fixture(scope="module")
def transcripts(spark):
    corpus = generate_corpus(n_entities=80, seed=321)
    return corpus_to_spark(spark, corpus)["transcripts"].localCheckpoint()


def _clusters(transcripts, **kw):
    result = run_pipeline(transcripts, PipelineConfig(**kw))
    return sorted(
        (r["conv_id"], r["entity_id"]) for r in result.clusters.collect()
    )


def test_vec_keys_are_long_when_hashed(spark, transcripts):
    result = run_pipeline(
        transcripts, PipelineConfig(hash_token_features=True), until="vectors"
    )
    assert isinstance(result.vectors.schema["vec"].dataType.keyType, LongType)
    assert isinstance(result.idf.schema["token"].dataType, LongType)


def test_clusters_identical_to_string_path(spark, transcripts):
    hashed = _clusters(transcripts, hash_token_features=True)
    strings = _clusters(transcripts, hash_token_features=False)
    assert hashed == strings
    assert len(hashed) > 0


def test_structure_mode_identical(spark, transcripts):
    """Typed tokens + the nturns near-miss lookup (element_at against the
    vec map) must agree across key domains — the scorer re-hashes the
    reconstructed nturns token when the map is long-keyed."""
    hashed = _clusters(transcripts, hash_token_features=True, use_structure=True)
    strings = _clusters(transcripts, hash_token_features=False, use_structure=True)
    assert hashed == strings


def test_coord_density_parity_keeps_strings(spark, transcripts):
    """use_coord_density reads token TEXT off the vec keys (is_text
    rlike) — the pipeline must refuse to hash under that mode."""
    result = run_pipeline(
        transcripts,
        PipelineConfig(hash_token_features=True, use_coord_density=True),
        until="vectors",
    )
    assert isinstance(result.vectors.schema["vec"].dataType.keyType, StringType)


def _id_collisions(spark, tokens, hash_id) -> int:
    """Distinct token strings minus distinct ids: 0 iff ``hash_id`` is
    one-to-one over ``tokens``."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(t,) for t in tokens], "token string")
    row = df.agg(
        F.countDistinct("token").alias("n_tokens"),
        F.countDistinct(hash_id(F.col("token"))).alias("n_ids"),
    ).first()
    return row["n_tokens"] - row["n_ids"]


@pytest.mark.parametrize("vocab_size", [4000, 30000])
def test_xxhash64_ids_do_not_collide_on_generator_vocab(spark, vocab_size):
    """The scorer treats equal token ids as the same token; over the
    generator's vocabulary (and typed structure tokens) xxhash64 keeps
    every token distinct, while a deliberately narrowed hash (mod 2^8)
    trips the same check."""
    from pyspark.sql import functions as F

    from address_match_recommend_spark.datagen import vocabulary

    tokens = list(vocabulary(vocab_size)) + [
        f"{kind}:{v}" for kind in ("role", "tool", "nturns") for v in ("user", "bash", "8")
    ]
    assert _id_collisions(spark, tokens, F.xxhash64) == 0
    assert _id_collisions(spark, tokens, lambda c: F.pmod(F.xxhash64(c), F.lit(256))) > 0
