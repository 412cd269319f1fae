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


def test_score_pairs_bit_identical_across_calls(spark, scored_fixture):
    """Every sum runs in id order, so repeated calls agree bit for bit
    and an identical pair scores exactly 1.0 (a shuffle-order sum read
    1.0000000000000002 now and then)."""
    conv, vectors, pairs = scored_fixture
    cfg = PipelineConfig(tau_lo=0.0, tau_hi=0.95)
    runs = [
        sorted(tuple(r) for r in score_pairs(pairs, vectors, conv, cfg).collect())
        for _ in range(20)
    ]
    assert all(run == runs[0] for run in runs[1:])
    cos = {(r[0], r[1]): r[2] for r in runs[0]}
    assert cos[("d1", "d2")] == 1.0


def test_scoring_stage_runs_few_jobs(spark, tiny_tables, monkeypatch):
    """Inside run_pipeline, score_pairs runs at most 5 Spark jobs (the
    exploded-vector join with a separate JW stage ran 13), counted from
    the status store's job list around the stage."""
    from address_match_recommend_spark.plans import pipeline

    jsc = spark.sparkContext._jsc.sc()

    def job_ids() -> set[int]:
        jsc.listenerBus().waitUntilEmpty()
        jobs = jsc.statusStore().jobsList(spark.sparkContext._gateway.jvm.java.util.ArrayList())
        return {jobs.apply(i).jobId() for i in range(jobs.size())}

    seen = {}

    def counted(*args, **kwargs):
        before = job_ids()
        out = score_pairs(*args, **kwargs)
        seen["jobs"] = len(job_ids() - before)
        return out

    monkeypatch.setattr(pipeline, "score_pairs", counted)
    res = pipeline.run_pipeline(tiny_tables["transcripts"], PipelineConfig(shuffle_partitions=8))
    assert res.scored.count() > 0
    assert 1 <= seen["jobs"] <= 5, seen


def _reference_cosines(vec_rows, pairs, nearmiss=None, scale=None):
    """Plain-Python cosine over collected ``vec`` maps: a dict dot
    product, optional near-miss term per pair, optional per-pair scale
    on the text terms (keys not starting role:/tool:/nturns:)."""
    vec = {r["conv_id"]: dict(r["vec"]) for r in vec_rows}
    out = {}
    for a, b in pairs:
        va, vb = vec[a], vec[b]
        shared = set(va) & set(vb)
        if not shared:
            continue
        s = (scale or {}).get((a, b), 1.0)
        dot = sum(
            va[k] * vb[k] * (1.0 if str(k).startswith(("role:", "tool:", "nturns:")) else s)
            for k in shared
        )
        dot += (nearmiss or {}).get((a, b), 0.0)
        na = math.sqrt(sum(w * w for w in va.values()))
        nb = math.sqrt(sum(w * w for w in vb.values()))
        out[(a, b)] = dot / (na * nb) if na > 0 and nb > 0 else 0.0
    return out


@pytest.fixture(scope="module")
def structured(spark, tiny_tables):
    from address_match_recommend_spark.operators.canonicalize import canonicalize
    from address_match_recommend_spark.operators.structure import (
        boost_weights,
        tokens_with_structure,
    )

    conv = canonicalize(tiny_tables["transcripts"]).persist()
    ids = sorted(r["conv_id"] for r in conv.select("conv_id").collect())
    pairs = [(a, b) for i, a in enumerate(ids) for b in ids[i + 1 :]]
    toks = boost_weights(tokens_with_structure(conv)).persist()
    return conv, pairs, toks, len(ids)


@pytest.mark.parametrize("mode", ["text", "hashed", "structure", "structure_hashed"])
def test_cosine_equals_dict_reference(spark, structured, mode):
    """The Arrow pass's cosine equals a dict dot product over the ``vec``
    maps within 1e-12, for text and xxhash64 keys and for boosted
    structure vectors with the nturns near-miss term."""
    from address_match_recommend_spark.functions.tokenize import explode_tokens
    from address_match_recommend_spark.operators.structure import NTURNS_EXACT_BOOST

    conv, pairs, toks, n = structured
    use_structure = mode.startswith("structure")
    tokens = toks if use_structure else explode_tokens(conv)
    cfg = PipelineConfig(use_structure=use_structure, tau_lo=0.0, tau_hi=1.01)
    text_vec = tfidf_vectors(tokens, idf_table(tokens, n, cfg), cfg).persist()
    vec = text_vec
    if mode.endswith("hashed"):
        hashed = tokens.withColumn("token", F.xxhash64("token"))
        vec = tfidf_vectors(hashed, idf_table(hashed, n, cfg), cfg)
    nearmiss = {}
    if use_structure:
        nt = {r["conv_id"]: r["n_turns"] for r in conv.select("conv_id", "n_turns").collect()}
        wn = {
            r["conv_id"]: next(w for k, w in r["vec"].items() if k.startswith("nturns:"))
            for r in text_vec.collect()
        }
        bucket = {c: 2 ** math.floor(math.log2(t)) for c, t in nt.items()}
        for a, b in pairs:
            if bucket[a] != bucket[b]:
                damp = 2.0 / (abs(nt[a] - nt[b]) + 1.0) ** 0.25
                nearmiss[(a, b)] = wn[a] * wn[b] * damp / NTURNS_EXACT_BOOST
        assert nearmiss
    want = _reference_cosines(text_vec.collect(), pairs, nearmiss)
    pair_df = spark.createDataFrame(pairs, "conv_id_a string, conv_id_b string")
    got = {
        (r["conv_id_a"], r["conv_id_b"]): r["cosine"]
        for r in score_pairs(pair_df, vec, conv, cfg).collect()
    }
    assert got.keys() == want.keys()
    assert max(abs(got[k] - want[k]) for k in want) <= 1e-12
    if use_structure:
        assert any(nearmiss.get(k, 0.0) > 0 for k in got)


def test_coord_density_cosine_equals_reference(spark, structured):
    """use_coord_density scales each matched text term by the pair's
    coord·density from the relational ``coord_density`` formula; typed
    terms (role:/tool:/nturns:) are not scaled."""
    from address_match_recommend_spark.operators.scoring import coord_density

    conv, pairs, toks, n = structured
    cfg = PipelineConfig(use_tf=False, use_coord_density=True, tau_lo=0.0)
    vec = tfidf_vectors(toks, idf_table(toks, n, cfg), cfg).persist()
    pair_df = spark.createDataFrame(pairs, "conv_id_a string, conv_id_b string")
    scale = {
        (r["conv_id_a"], r["conv_id_b"]): r["coord"] * r["density"]
        for r in coord_density(pair_df, toks).collect()
    }
    assert any(s < 1.0 for s in scale.values())
    want = _reference_cosines(vec.collect(), pairs, scale=scale)
    got = {
        (r["conv_id_a"], r["conv_id_b"]): r["cosine"]
        for r in score_pairs(pair_df, vec, None, cfg, tokens=toks).collect()
    }
    assert got.keys() == want.keys()
    assert max(abs(got[k] - want[k]) for k in want) <= 1e-12


@pytest.mark.parametrize("coord", [False, True], ids=["text", "coord_density"])
def test_plain_join_path_equals_broadcast_path(spark, structured, monkeypatch, coord):
    """Past the broadcast size the side joins are plain (forced here: a
    zero heap fraction and no AQE broadcast). The pass then scores every
    pair exactly as on the broadcast path, in the same one Python task
    per Arrow batch, with the near-miss term and the coord·density scale."""
    from address_match_recommend_spark.operators import scoring

    conv, pairs, toks, n = structured
    cfg = PipelineConfig(use_structure=True, use_coord_density=coord, tau_lo=0.0, tau_hi=0.95)
    vec = tfidf_vectors(toks, idf_table(toks, n, cfg), cfg).localCheckpoint()
    # checkpointed inputs, so the plans below show the scorer's joins only
    conv, toks = conv.localCheckpoint(), toks.localCheckpoint()
    pair_df = spark.createDataFrame(pairs, "conv_id_a string, conv_id_b string")
    plans = []
    materialize = scoring.materialize

    def traced(df, *args, **kwargs):
        out = materialize(df, *args, **kwargs)
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return out

    monkeypatch.setattr(scoring, "materialize", traced)

    def run():
        out = score_pairs(pair_df, vec, conv, cfg, tokens=toks if coord else None)
        return sorted(tuple(r) for r in out.collect()), out.rdd.getNumPartitions(), plans[-1]

    broadcast = run()
    monkeypatch.setattr(scoring, "BROADCAST_HEAP_FRACTION", 0)
    keys = ["spark.sql.autoBroadcastJoinThreshold", "spark.sql.adaptive.autoBroadcastJoinThreshold"]
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        for k in keys:
            spark.conf.set(k, "-1")
        plain = run()
    finally:
        for k, v in saved.items():
            spark.conf.unset(k) if v is None else spark.conf.set(k, v)
    assert "BroadcastHashJoin" in broadcast[2]
    assert "BroadcastHashJoin" not in plain[2] and "SortMergeJoin" in plain[2]
    assert any(r[3] is not None for r in plain[0])  # band rows carry jw
    assert plain[0] == broadcast[0]
    assert plain[1] == broadcast[1] == 1
