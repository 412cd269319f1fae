"""Tokenizer + TF-IDF goldens on a tiny hand-computed corpus
(reference test style 1 — assertion goldens, SURVEY §5)."""

import math
import re

import pytest
from pyspark.sql import functions as F

from address_match_recommend_spark.config import PipelineConfig
from address_match_recommend_spark.functions.tokenize import (
    explode_tokens,
    tokenize_col,
)
from address_match_recommend_spark.operators.blocking import postings
from address_match_recommend_spark.operators.tfidf import (
    document_frequency,
    idf_table,
    tfidf_vectors,
    token_counts,
)


@pytest.fixture(scope="module")
def mini(spark):
    rows = [
        ("d1", "the cat sat"),
        ("d2", "the cat ran"),
        ("d3", "a dog ran far"),
    ]
    return spark.createDataFrame(rows, "conv_id string, canonical_text string")


def test_tokenize_builtin(spark):
    df = spark.createDataFrame(
        [("x", "Hello, World! run-42 __x9__")], "conv_id string, canonical_text string"
    )
    toks = df.select(tokenize_col(F.col("canonical_text")).alias("t")).first()["t"]
    assert toks == ["hello", "world", "run", "42", "x9"]


def test_document_frequency(spark, mini):
    tokens = explode_tokens(mini)
    df_counts = {r["token"]: r["df"] for r in document_frequency(tokens).collect()}
    assert df_counts == {"the": 2, "cat": 2, "sat": 1, "ran": 2, "a": 1, "dog": 1, "far": 1}


def test_idf_values(spark, mini):
    tokens = explode_tokens(mini)
    idf = {r["token"]: r["idf"] for r in idf_table(tokens, 3).collect()}
    assert idf["the"] == pytest.approx(max(math.log(3 / 3), 0.0))
    assert idf["sat"] == pytest.approx(math.log(3 / 2))


def test_vectors_norm_and_tf(spark, mini):
    cfg = PipelineConfig()
    tokens = explode_tokens(mini)
    idf = idf_table(tokens, 3, cfg)
    vec = {r["conv_id"]: r for r in tfidf_vectors(tokens, idf, cfg).collect()}
    d3 = vec["d3"]
    assert d3["n_tokens"] == 4
    # weight(token) = (1/4) * ln(3/2) for each of the 4 singleton tokens
    w = 0.25 * math.log(3 / 2)
    for tok in ("a", "dog", "far"):
        assert d3["vec"][tok] == pytest.approx(w)
    assert d3["vec"]["ran"] == pytest.approx(0.25 * math.log(3 / 3))
    expected_norm = math.sqrt(3 * w * w)  # 'ran' has idf 0
    assert d3["norm"] == pytest.approx(expected_norm)


def test_broadcast_idf_flag_identical_vectors(spark, mini):
    """cfg.broadcast_idf=False drops the forced broadcast hint on the IDF
    weight join (VERDICT r4 Missing #3: a 10^12-turn raw vocabulary can
    outgrow executor memory; AQE then picks broadcast vs shuffle from
    runtime stats) — the vectors must be IDENTICAL either way."""
    tokens = explode_tokens(mini)
    idf = idf_table(tokens, 3)
    on = tfidf_vectors(tokens, idf, PipelineConfig(broadcast_idf=True))
    off = tfidf_vectors(tokens, idf, PipelineConfig(broadcast_idf=False))

    def rows(df):
        return {
            (r["conv_id"], r["n_tokens"], round(r["norm"], 12),
             tuple(sorted((k, round(v, 12)) for k, v in r["vec"].items())))
            for r in df.collect()
        }

    assert rows(on) == rows(off)
    # the hint is really gone: only the flag-on logical plan carries it
    assert "hint" in on._jdf.queryExecution().logical().toString().lower()
    assert "hint" not in off._jdf.queryExecution().logical().toString().lower()


@pytest.fixture(scope="module")
def reps(spark, tiny_tables):
    from address_match_recommend_spark.operators.canonicalize import canonicalize
    from address_match_recommend_spark.operators.dedup import dedup_exact

    return dedup_exact(canonicalize(tiny_tables["transcripts"])).localCheckpoint()


def _stream(reps, variant: str):
    """The token stream as run_pipeline builds it: text tokens, hashed
    int64 tokens, or structure-aware tokens carrying a ``boost`` column."""
    cfg = PipelineConfig(use_structure=variant == "boost")
    if variant == "boost":
        from address_match_recommend_spark.operators.structure import (
            boost_weights,
            tokens_with_structure,
        )

        return cfg, boost_weights(tokens_with_structure(reps, cfg))
    tokens = explode_tokens(reps, cfg)
    if variant == "hashed":
        tokens = tokens.withColumn("token", F.xxhash64("token"))
    return cfg, tokens


@pytest.mark.parametrize("variant", ["text", "hashed", "boost"])
def test_token_counts_input_equals_raw_stream(spark, reps, variant):
    """idf, vectors and postings read the pipeline's materialized
    token_counts frame; each must equal its raw-stream result."""
    cfg, tokens = _stream(reps, variant)
    counts = token_counts(tokens).localCheckpoint()
    assert ("boost" in counts.columns) == (variant == "boost")
    n = reps.count()

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(document_frequency(counts)) == rows(document_frequency(tokens))
    idf = idf_table(tokens, n, cfg).localCheckpoint()
    assert rows(idf_table(counts, n, cfg)) == rows(idf)

    def vecs(df):
        return {r["conv_id"]: r for r in df.collect()}

    got, want = vecs(tfidf_vectors(counts, idf, cfg)), vecs(tfidf_vectors(tokens, idf, cfg))
    assert got.keys() == want.keys() and len(got) == n
    for cid, r in want.items():
        assert got[cid]["vec"] == r["vec"]
        assert got[cid]["n_tokens"] == r["n_tokens"]
        # the L2 sum may add the same weights in another order
        assert got[cid]["norm"] == pytest.approx(r["norm"], rel=1e-12)

    # a small budget makes the per-conversation window cut; ``clamped``
    # (the incremental path's idf) adds its tie-break to that window
    pcfg = PipelineConfig(max_block_tokens_per_conv=3, max_block_df=n)
    clamped = idf.withColumn("clamped", F.col("df") == 2)
    for table in (idf, clamped):
        want_post = rows(postings(tokens, table, pcfg))
        assert want_post and rows(postings(counts, table, pcfg)) == want_post


def test_token_counts_consumers_skip_explode_and_distinct(spark, reps):
    """Over a materialized token_counts frame, the executed idf and
    postings plans hold no explode (Generate) and no distinct (a
    HashAggregate with no aggregate functions)."""
    cfg = PipelineConfig()
    tokens = explode_tokens(reps, cfg)
    counts = token_counts(tokens).localCheckpoint()
    distinct = re.compile(r"HashAggregate\(keys=\[[^\]]*\], functions=\[\]")

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    raw = plan(postings(tokens, idf_table(tokens, 10, cfg), cfg))
    assert "Generate" in raw and distinct.search(raw)  # the shapes it skips
    idf = idf_table(counts, reps.count(), cfg)
    for df in (idf, postings(counts, idf, cfg)):
        p = plan(df)
        assert "Generate" not in p and not distinct.search(p), p
