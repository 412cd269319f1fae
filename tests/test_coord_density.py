"""coord/density parity measures (reference A4/A5, documented float math)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from address_match_recommend_spark.operators.scoring import coord_density


def test_coord_density_hand_computed(spark):
    # query a: tokens [x y z y] (4 positions); doc b contains {x, y}
    rows = [
        ("a", 0, "x"), ("a", 1, "y"), ("a", 2, "z"), ("a", 3, "y"),
        ("b", 0, "x"), ("b", 1, "y"), ("b", 2, "q"),
    ]
    tokens = spark.createDataFrame(rows, "conv_id string, pos int, token string")
    pairs = spark.createDataFrame([("a", "b")], "conv_id_a string, conv_id_b string")
    got = coord_density(pairs, tokens).collect()[0]
    # matched positions in a: 0 (x), 1 (y), 3 (y) → matched=3, span 0..3
    assert got["matched"] == 3
    assert got["coord"] == pytest.approx(math.sqrt(3 / 4) * 0.5 + 0.5)
    assert got["density"] == pytest.approx(math.sqrt(3 / 4) * 0.5 + 0.5)


def test_identical_docs_perfect_scores(spark):
    rows = [("a", i, t) for i, t in enumerate(["u", "v", "w"])] + [
        ("b", i, t) for i, t in enumerate(["u", "v", "w"])
    ]
    tokens = spark.createDataFrame(rows, "conv_id string, pos int, token string")
    pairs = spark.createDataFrame([("a", "b")], "conv_id_a string, conv_id_b string")
    got = coord_density(pairs, tokens).collect()[0]
    # all positions match, contiguous span → coord = density = 1.0
    assert got["coord"] == pytest.approx(1.0)
    assert got["density"] == pytest.approx(1.0)


def test_no_overlap_pair_absent(spark):
    rows = [("a", 0, "x"), ("b", 0, "y")]
    tokens = spark.createDataFrame(rows, "conv_id string, pos int, token string")
    pairs = spark.createDataFrame([("a", "b")], "conv_id_a string, conv_id_b string")
    assert coord_density(pairs, tokens).count() == 0


def test_coord_density_folded_into_cosine(spark):
    """use_coord_density=True reproduces the reference's ranking semantics
    (similarity.go:502-516): a pair whose side-a text terms match but are
    SCATTERED (low coord/density) scores strictly below the same pair
    under plain cosine; a fully-dense pair is unchanged."""
    from address_match_recommend_spark.config import PipelineConfig
    from address_match_recommend_spark.functions.tokenize import explode_tokens
    from address_match_recommend_spark.operators.scoring import score_pairs
    from address_match_recommend_spark.operators.tfidf import idf_table, tfidf_vectors

    rows = [
        ("a", "alpha junk1 beta junk2 gamma junk3 delta"),  # scattered
        ("b", "alpha beta gamma delta"),
        ("c", "completely different words here now"),
        ("d", "more unrelated filler text one"),
        ("e", "yet another distractor document two"),
        ("f", "final noise entry three"),
    ]  # N=6 so shared-token idf = ln(6/3) > 0
    conv = spark.createDataFrame(rows, "conv_id string, canonical_text string")
    cfg_plain = PipelineConfig(use_tf=False, tau_lo=0.0)
    cfg_cd = PipelineConfig(use_tf=False, tau_lo=0.0, use_coord_density=True)
    tokens = explode_tokens(conv).persist()
    tokens.count()
    idf = idf_table(tokens, 6)
    vec = tfidf_vectors(tokens, idf, cfg_plain).persist()
    vec.count()
    pairs = spark.createDataFrame([("a", "b")], "conv_id_a string, conv_id_b string")
    plain = score_pairs(pairs, vec, None, cfg_plain).first()["cosine"]
    folded = score_pairs(pairs, vec, None, cfg_cd, tokens=tokens).first()["cosine"]
    assert folded < plain
    # expected multiplier: coord = density = sqrt(4/7)*0.5+0.5 over side a
    import math

    m = (math.sqrt(4 / 7) * 0.5 + 0.5) ** 2
    assert abs(folded - plain * m) < 1e-9
