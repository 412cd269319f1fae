"""Property-based tests (hypothesis) — an upgrade over the reference's
golden/print-style tests (SURVEY §5: "No property-based/randomized
testing" in /root/reference). Each property pins an algebraic invariant
the hand-picked goldens cannot sweep:

- connected components ≡ union-find on arbitrary random graphs,
- canonicalization stable under input row order (the north-rule
  invariant: per-turn text equality under stable turn ordering),
- CJK numeral parser inverts an independent renderer (C9,
  /root/reference/core/similarity.go:675-774 semantics),
- extractor residual algebra: remove_first_match removes exactly the
  span extract_cascade extracted, once (ADVICE r2 fix).

Spark-backed properties keep max_examples small (one job per example);
the pure-Python numeral property sweeps wide.
"""

from __future__ import annotations

from datetime import datetime

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from address_match_recommend_spark.operators.canonicalize import canonicalize
from address_match_recommend_spark.operators.clustering import (
    connected_components,
)

SPARK_SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)

TS = datetime(2025, 1, 1)


def _union_find(nodes, edges):
    """Reference model: plain union-find, entity = min of component."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp = {}
    for n in nodes:
        comp.setdefault(find(n), []).append(n)
    out = {}
    for members in comp.values():
        root = min(members)
        for m in members:
            out[m] = root
    return out


@given(
    st.lists(
        st.tuples(st.integers(0, 14), st.integers(0, 14)),
        min_size=1,
        max_size=24,
    )
)
@settings(**SPARK_SETTINGS)
def test_cc_equals_union_find(spark, raw_edges):
    """connected_components must equal union-find on any graph — chains,
    cycles, stars, parallel edges, self-loops (golden tests cover only
    four fixed shapes)."""
    edges = [(f"n{a:02d}", f"n{b:02d}") for a, b in raw_edges]
    df = spark.createDataFrame(edges, "conv_id_a string, conv_id_b string")
    real = [(a, b) for a, b in edges if a != b]
    nodes = {n for e in real for n in e}
    expect = _union_find(nodes, real)
    # both implementations: the driver union-find fast path (default
    # gate) and the distributed large/small-star loop (gate forced to 0)
    from address_match_recommend_spark.config import PipelineConfig

    for cfg in (None, PipelineConfig(cc_driver_max_edges=0)):
        got = {
            r["conv_id"]: r["entity_id"]
            for r in connected_components(df, cfg=cfg).collect()
        }
        assert got == expect, f"path={'driver' if cfg is None else 'distributed'}"


@given(
    st.lists(
        st.text(alphabet="ab µ東\n-", max_size=6), min_size=1, max_size=5
    ),
    st.lists(
        st.text(alphabet="xy z", max_size=4), min_size=1, max_size=4
    ),
)
@settings(**SPARK_SETTINGS)
def test_canonicalize_stable_under_row_order(spark, texts1, texts2):
    """North-rule invariant: canonical_text / text_hash depend only on
    (conv_id, turn_idx, text), never on partitioning or arrival order —
    array_sort carries the sort key inside the aggregate."""
    rows = [
        ("c1", i, "user", t, "", TS) for i, t in enumerate(texts1)
    ] + [("c2", i, "agent", t, "grep", TS) for i, t in enumerate(texts2)]
    schema = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    ordered = spark.createDataFrame(rows, schema)
    shuffled = spark.createDataFrame(rows[::-1], schema).repartition(7)

    def snap(df):
        return {
            r["conv_id"]: (r["canonical_text"], r["text_hash"], r["roles"])
            for r in canonicalize(df).collect()
        }

    assert snap(ordered) == snap(shuffled)


def _render_cjk(n: int) -> str:
    """Independent positional renderer 0..999 (inverse of the parser
    under test, written from the 十/百 place-value rules, not from the
    implementation)."""
    digits = "零一二三四五六七八九"
    if n < 10:
        return digits[n]
    parts = []
    h, rem = divmod(n, 100)
    t, u = divmod(rem, 10)
    if h:
        parts.append(digits[h] + "百")
        if not t and u:
            parts.append("零")
    if t:
        parts.append(digits[t] + "十")
    if u:
        parts.append(digits[u])
    return "".join(parts)


@given(st.integers(0, 999))
@settings(max_examples=300, deadline=None)
def test_cjk_numeral_roundtrip(n):
    from address_match_recommend_spark.functions.normalize import _cjk_to_int

    assert _cjk_to_int(_render_cjk(n)) == n


def test_remove_first_match_residual_algebra(spark):
    """Seeded random sweep (one Spark job, 200 rows): the residual is the
    input with exactly the extracted span spliced out once — so
    len(residual) = len(text) − len(extracted), extracted occurs in text,
    and a no-match row passes through untouched (ADVICE r2: the old
    global regexp_replace deleted spans that were never extracted)."""
    import random

    from address_match_recommend_spark.functions.normalize import (
        extract_cascade,
        remove_first_match,
    )

    rng = random.Random(77)
    alphabet = "ab1 [] err0 x"
    rows = [
        (
            "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 24))),
        )
        for _ in range(200)
    ]
    pats = [r"\[[a-z0-9 ]*\]", r"err[0-9]+", r"[0-9]+"]
    df = spark.createDataFrame(rows, "text string").select(
        "text",
        extract_cascade(F.col("text"), pats).alias("ex"),
        remove_first_match(F.col("text"), pats).alias("res"),
    )
    for r in df.collect():
        if r["ex"] == "":
            assert r["res"] == r["text"]
        else:
            assert r["ex"] in r["text"]
            assert len(r["res"]) == len(r["text"]) - len(r["ex"])
            i = r["text"].find(r["ex"])
            assert r["res"] == r["text"][:i] + r["text"][i + len(r["ex"]):]


@given(
    st.lists(
        st.lists(
            st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh"]),
            min_size=1,
            max_size=5,
        ),
        min_size=2,
        max_size=8,
    ),
    st.integers(1, 3),
)
@settings(**SPARK_SETTINGS)
def test_candidate_pairs_equals_model(spark, docs, min_shared):
    """The rewritten blocking operator (in-join array_intersect count,
    round 3) must equal the declarative model on arbitrary corpora: a
    pair qualifies iff the two conversations share >= min_shared_tokens
    of their BUDGETED blockable tokens and share at least one blocking
    key. Run in the unsalted regime (salt_bucket > corpus) so the model
    is exactly computable in Python; salted recall/precision behavior is
    pinned separately by the planted-pair tests in test_blocking.py."""
    from address_match_recommend_spark.config import PipelineConfig
    from address_match_recommend_spark.functions.tokenize import explode_tokens
    from address_match_recommend_spark.operators.blocking import (
        candidate_pairs,
        postings,
    )
    from address_match_recommend_spark.operators.tfidf import idf_table

    cfg = PipelineConfig(
        max_block_df=4,
        min_block_df=2,
        salt_bucket=1000,  # no salting at <= 8 docs
        max_block_tokens_per_conv=3,
        min_shared_tokens=min_shared,
    )
    rows = [(f"d{i:02d}", " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "conv_id string, canonical_text string")
    tokens = explode_tokens(df, cfg)
    idf = idf_table(tokens, len(rows), cfg)
    got = {
        (r["conv_id_a"], r["conv_id_b"])
        for r in candidate_pairs(postings(tokens, idf, cfg), cfg).collect()
    }

    # model: same semantics, straight-line Python
    toksets = {cid: set(t.split()) for cid, t in rows}
    df_count = {}
    for ts_ in toksets.values():
        for t in ts_:
            df_count[t] = df_count.get(t, 0) + 1
    blockable = {
        t
        for t, d in df_count.items()
        if cfg.min_block_df <= d <= cfg.max_block_df
    }
    budget = {
        cid: set(
            sorted(
                (t for t in ts_ if t in blockable),
                key=lambda t: (df_count[t], t),
            )[: cfg.max_block_tokens_per_conv]
        )
        for cid, ts_ in toksets.items()
    }
    ids = sorted(budget)
    expect = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            shared = budget[a] & budget[b]
            if shared and len(shared) >= cfg.min_shared_tokens:
                expect.add((a, b))
    assert got == expect


@given(
    st.lists(
        st.tuples(
            st.text(
                alphabet=st.characters(
                    codec="utf-8", exclude_categories=("Cs",)
                ),
                max_size=40,
            ),
            st.text(
                alphabet=st.characters(
                    codec="utf-8", exclude_categories=("Cs",)
                ),
                max_size=40,
            ),
        ),
        max_size=24,
    )
)
@settings(max_examples=200, deadline=None)
def test_jaro_winkler_batch_equals_scalar(pairs):
    """The batch-vectorized JW kernel (linear-time pass, uint8 narrowing,
    dense char ids outside 8 bits) is the SAME function as the scalar
    reference on arbitrary unicode, including the 254/255 code points at
    the narrowing boundary, empty strings, and mixed-length batches with
    a different window per row."""
    from address_match_recommend_spark.functions.jaro_winkler import (
        jaro_winkler,
        jaro_winkler_batch,
    )

    pairs = pairs + [
        ("", ""), ("a", ""), ("abc", "abc"), ("\xfe\xff x", "\xff\xfe y"),
        ("a" * 500, "a" * 30), ("日本語テスト", "日本語のテスト"),
    ]
    got = jaro_winkler_batch([a for a, _ in pairs], [b for _, b in pairs])
    for k, (a, b) in enumerate(pairs):
        assert got[k] == pytest.approx(jaro_winkler(a, b), abs=1e-12)


@st.composite
def _small_alphabet_pairs(draw):
    """Pairs of strings up to ~600 chars over one 2-4-letter alphabet:
    every character recurs hundreds of times, so most occurrences fall
    below the window floor before they can be matched."""
    alphabet = draw(st.sampled_from(["ab", "abc", "abcd", "xy ", "aĀ", "日本語"]))
    lengths = st.integers(0, 600)
    return draw(
        st.lists(
            st.tuples(
                lengths.flatmap(lambda n: st.text(alphabet, min_size=n, max_size=n)),
                lengths.flatmap(lambda n: st.text(alphabet, min_size=n, max_size=n)),
            ),
            min_size=1,
            max_size=6,
        )
    )


@given(_small_alphabet_pairs())
@settings(max_examples=60, deadline=None)
def test_jaro_winkler_batch_small_alphabets(pairs):
    """The linear-time pass skips occurrences under the window floor
    without scanning them; on long strings over tiny alphabets (8-bit and
    not) it is still bit-identical to the scalar loop."""
    from address_match_recommend_spark.functions.jaro_winkler import (
        jaro_winkler,
        jaro_winkler_batch,
    )

    got = jaro_winkler_batch([a for a, _ in pairs], [b for _, b in pairs])
    for k, (a, b) in enumerate(pairs):
        assert got[k] == jaro_winkler(a, b)
