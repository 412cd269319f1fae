"""Pair scorer: cosine goldens (score(x,x)=1), JW tie-break, top-k."""

import math

import pytest
from pyspark.sql import functions as F

from address_match_recommend_spark.config import PipelineConfig
from address_match_recommend_spark.functions.jaro_winkler import jaro_winkler
from address_match_recommend_spark.functions.tokenize import explode_tokens
from address_match_recommend_spark.operators.scoring import (
    jw_partitions,
    score_pairs,
    top_k_matches,
)
from address_match_recommend_spark.operators.tfidf import idf_table, tfidf_vectors


@pytest.fixture(scope="module")
def scored_fixture(spark):
    rows = [
        ("d1", "red fox jumps over lazy dog"),
        ("d2", "red fox jumps over lazy dog"),  # identical → cosine 1
        ("d3", "red fox jumps over sleepy dog"),  # near-dup
        ("d4", "completely different words entirely here"),
        # fillers so the shared tokens keep non-zero idf (ln(N/(df+1)))
        ("d5", "one two three four five"),
        ("d6", "six seven eight nine ten"),
        ("d7", "alpha beta gamma delta"),
        ("d8", "epsilon zeta eta theta"),
    ]
    conv = spark.createDataFrame(rows, "conv_id string, canonical_text string")
    tokens = explode_tokens(conv)
    idf = idf_table(tokens, 8)
    vectors = tfidf_vectors(tokens, idf)
    pairs = spark.createDataFrame(
        [("d1", "d2"), ("d1", "d3"), ("d1", "d4")],
        "conv_id_a string, conv_id_b string",
    )
    return conv, vectors, pairs


def test_identical_scores_one(spark, scored_fixture):
    conv, vectors, pairs = scored_fixture
    cfg = PipelineConfig(tau_lo=0.0)
    out = {
        (r["conv_id_a"], r["conv_id_b"]): r["cosine"]
        for r in score_pairs(pairs, vectors, None, cfg).collect()
    }
    # the reference's own identical-input score never reaches 1.0
    # (README.md:141-142) — we fix that (SURVEY §2.9)
    assert out[("d1", "d2")] == pytest.approx(1.0)
    assert 0.3 < out[("d1", "d3")] < 1.0
    assert out.get(("d1", "d4"), 0.0) < 0.2


def test_threshold_and_match_flag(spark, scored_fixture):
    conv, vectors, pairs = scored_fixture
    cfg = PipelineConfig(tau_lo=0.3, tau_hi=0.95, jw_threshold=0.80)
    out = {
        (r["conv_id_a"], r["conv_id_b"]): r
        for r in score_pairs(pairs, vectors, conv, cfg).collect()
    }
    assert out[("d1", "d2")]["is_match"]
    border = out[("d1", "d3")]
    assert border["jw"] is not None  # borderline band got a JW score
    assert border["jw"] > 0.8  # one-word difference → high JW
    assert border["is_match"]
    assert ("d1", "d4") not in out  # below tau_lo dropped early


def test_jaro_winkler_golden():
    # classic published examples
    assert jaro_winkler("MARTHA", "MARHTA") == pytest.approx(0.9611, abs=1e-4)
    assert jaro_winkler("DIXON", "DICKSONX") == pytest.approx(0.8133, abs=1e-3)
    assert jaro_winkler("abc", "abc") == 1.0
    assert jaro_winkler("abc", "xyz") == 0.0
    assert jaro_winkler("", "abc") == 0.0


def test_top_k(spark, scored_fixture):
    conv, vectors, pairs = scored_fixture
    cfg = PipelineConfig(tau_lo=0.0)
    scored = score_pairs(pairs, vectors, None, cfg)
    top1 = {r["conv_id"]: r for r in top_k_matches(scored, k=1).collect()}
    assert top1["d1"]["match_id"] == "d2"
    assert top1["d1"]["cosine"] == pytest.approx(1.0)
    assert top1["d3"]["match_id"] == "d1"


@pytest.mark.parametrize(
    "n_band, batch_rows, want",
    [
        (0, 10_000, 1),
        (1, 10_000, 1),
        (10_000, 10_000, 1),
        (10_001, 10_000, 2),
        (10**6, 10_000, 8),
        (10**6, 0, 1),  # maxRecordsPerBatch ≤ 0: batches are unbounded
    ],
)
def test_jw_partitions_one_task_per_arrow_batch(n_band, batch_rows, want):
    assert jw_partitions(n_band, batch_rows, 8) == want


def test_empty_band_keeps_rows_and_columns(spark, scored_fixture):
    """tau_lo = tau_hi leaves no borderline band: every kept pair is
    confident, the output has the columns of a run with a band, and
    ``jw`` is null."""
    conv, vectors, pairs = scored_fixture
    cfg = PipelineConfig(tau_lo=0.3, tau_hi=0.3)
    out = score_pairs(pairs, vectors, conv, cfg)
    with_band = score_pairs(pairs, vectors, conv, PipelineConfig(tau_lo=0.3, tau_hi=0.95))
    assert [(f.name, f.dataType) for f in out.schema] == [
        (f.name, f.dataType) for f in with_band.schema
    ]
    cosine_only = {
        (r["conv_id_a"], r["conv_id_b"]): (r["cosine"], r["is_match"])
        for r in score_pairs(pairs, vectors, None, cfg).collect()
    }
    got = out.collect()
    assert {(r["conv_id_a"], r["conv_id_b"]): (r["cosine"], r["is_match"]) for r in got} == cosine_only
    assert len(got) == len(cosine_only) == 2
    assert all(r["jw"] is None for r in got)


def test_band_jw_equals_scalar_on_prefixes(spark, tiny_corpus):
    """Every band row's jw is the scalar Jaro-Winkler of the two
    conversations' jw_prefix_chars prefixes, bit for bit."""
    golden = tiny_corpus.golden_canonical
    text = dict(zip(golden.conv_id, golden.canonical_text))
    conv = spark.createDataFrame(
        golden[["conv_id", "canonical_text"]], "conv_id string, canonical_text string"
    )
    tokens = explode_tokens(conv)
    vectors = tfidf_vectors(tokens, idf_table(tokens, len(text)))
    labeled = tiny_corpus.labeled_pairs
    pairs = spark.createDataFrame(
        sorted({tuple(sorted(p)) for p in zip(labeled.conv_id_a, labeled.conv_id_b)}),
        "conv_id_a string, conv_id_b string",
    )
    # tau_hi above any cosine puts every scored pair in the band
    cfg = PipelineConfig(tau_lo=0.0, tau_hi=1.01, jw_prefix_chars=64)
    band = score_pairs(pairs, vectors, conv, cfg).collect()
    assert len(band) > 20
    p = cfg.jw_prefix_chars
    for r in band:
        a, b = text[r["conv_id_a"]], text[r["conv_id_b"]]
        assert r["jw"] == jaro_winkler(a[:p], b[:p]), (r["conv_id_a"], r["conv_id_b"])
