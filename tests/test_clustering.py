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
