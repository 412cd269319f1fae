"""Connected components on known graphs (chain, star, two components).

Every graph runs through BOTH implementations — the driver union-find
fast path (default: all fixtures sit under cc_driver_max_edges) and the
distributed large/small-star loop (forced with cc_driver_max_edges=0) —
and the parametrized asserts pin them to identical output."""

import pytest

from address_match_recommend_spark.config import PipelineConfig
from address_match_recommend_spark.operators.clustering import (
    assign_entities,
    connected_components,
)

BOTH_PATHS = pytest.mark.parametrize(
    "cfg",
    [
        pytest.param(PipelineConfig(), id="driver_union_find"),
        pytest.param(PipelineConfig(cc_driver_max_edges=0), id="distributed_loop"),
    ],
)


def _cc(spark, edges, cfg=None):
    df = spark.createDataFrame(edges, "conv_id_a string, conv_id_b string")
    return {
        r["conv_id"]: r["entity_id"]
        for r in connected_components(df, cfg=cfg).collect()
    }


@BOTH_PATHS
def test_chain(spark, cfg):
    got = _cc(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")], cfg)
    assert got == {x: "a" for x in "abcde"}


@BOTH_PATHS
def test_star(spark, cfg):
    got = _cc(spark, [("m", x) for x in ["n", "o", "p", "q"]], cfg)
    assert got == {x: "m" for x in "mnopq"}


@BOTH_PATHS
def test_two_components_and_cycle(spark, cfg):
    got = _cc(
        spark,
        [("a", "b"), ("b", "c"), ("c", "a"), ("x", "y"), ("y", "z")],
        cfg,
    )
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x", "z": "x"}


@BOTH_PATHS
def test_long_path_converges(spark, cfg):
    """Path of 33 nodes — needs multiple large/small-star rounds."""
    nodes = [f"n{i:02d}" for i in range(33)]
    got = _cc(spark, list(zip(nodes, nodes[1:])), cfg)
    assert set(got.values()) == {"n00"}
    assert len(got) == 33


def test_unconverged_loop_raises(spark):
    """Hitting the iteration cap before the edge set stabilises must
    raise, not return a partial clustering."""
    nodes = [f"n{i:02d}" for i in range(16)]
    cfg = PipelineConfig(cc_driver_max_edges=0, max_cc_iterations=2)
    with pytest.raises(RuntimeError, match=r"max_cc_iterations=2 \(15 input edges\)"):
        _cc(spark, list(zip(nodes, nodes[1:])), cfg)


def test_assign_entities_singletons(spark):
    conv = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("lone",)], "conv_id string"
    )
    comps = connected_components(
        spark.createDataFrame([("a", "b")], "conv_id_a string, conv_id_b string")
    )
    got = {r["conv_id"]: r["entity_id"] for r in assign_entities(conv, comps).collect()}
    assert got == {"a": "a", "b": "a", "c": "c", "lone": "lone"}


def test_hot_token_and_bridged_component(spark):
    """A hand-built corpus with one token in almost every conversation
    and four entities bridged through one conversation (a fifth stays
    apart). Under a small ``max_block_df`` the hot token never reaches the
    postings; the bridged entities form one component; the driver
    union-find and the distributed loop return the same clusters."""
    import dataclasses
    import datetime

    from pyspark.sql import functions as F

    from address_match_recommend_spark.plans.pipeline import run_pipeline

    words = {e: [f"ent{e}w{i}" for i in range(5)] for e in range(5)}
    rows = []
    for e, ws in words.items():
        rows.append((f"e{e}a", " ".join(ws + ["hotzz"])))
        rows.append((f"e{e}b", " ".join(ws[::-1] + ["hotzz"])))
    rows.append(("bridge", " ".join(w for e in range(4) for w in words[e])))
    ts = datetime.datetime(2025, 1, 1)
    transcripts = spark.createDataFrame(
        [(cid, 0, "user", text, "", ts) for cid, text in rows],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    # the bridge scores cosine 0.5 against each entity's conversations;
    # entities share nothing but the hot token (df 10 of 11)
    cfg = PipelineConfig(
        max_block_df=4, tau_hi=0.45, tau_lo=0.30, hash_token_features=False
    )
    runs = {}
    for name, c in {
        "driver_union_find": cfg,
        "distributed_loop": dataclasses.replace(cfg, cc_driver_max_edges=0),
    }.items():
        res = run_pipeline(transcripts, c)
        assert res.idf.filter(F.col("token") == "hotzz").first()["df"] == 10
        assert res.postings.filter(F.col("token") == "hotzz").count() == 0
        runs[name] = {(r["conv_id"], r["entity_id"]) for r in res.clusters.collect()}

    assert runs["driver_union_find"] == runs["distributed_loop"]
    groups: dict[str, set] = {}
    for conv, ent in runs["driver_union_find"]:
        groups.setdefault(ent, set()).add(conv)
    bridged = {"bridge"} | {f"e{e}{s}" for e in range(4) for s in "ab"}
    assert sorted(groups.values(), key=len) == [{"e4a", "e4b"}, bridged]
