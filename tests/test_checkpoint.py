"""Checkpoint/resume + lineage/metrics ledger (north rule: every stage
checkpointed, resumable per-partition with lineage and metrics tables)."""

from __future__ import annotations

from pyspark.sql import functions as F

from address_match_recommend_spark.plans.pipeline import run_pipeline
from address_match_recommend_spark.sources.checkpoint import Checkpointer

STAGES = [
    "conversations",
    "representatives",
    "tokenize",
    "idf",
    "vectors",
    "postings",
    "candidate_pairs",
    "scored_pairs",
    "edges",
    "clusters",
]


def _clusters_set(df):
    return {(r["conv_id"], r["entity_id"]) for r in df.collect()}


def test_checkpointed_pipeline_and_resume(spark, tiny_tables, tmp_path):
    root = str(tmp_path / "ck")
    ck1 = Checkpointer(spark, root, run_id="r1")
    res1 = run_pipeline(tiny_tables["transcripts"], checkpointer=ck1)
    clusters1 = _clusters_set(res1.clusters)
    # the two post-tokenize branches (vectors | postings→candidate_pairs)
    # run concurrently under a Checkpointer too, so they complete in
    # nondeterministic relative order — assert the SET of stages and the
    # DAG constraints instead of one serialized order.
    assert sorted(ck1.stages_run) == sorted(STAGES)
    ran = {s: i for i, s in enumerate(ck1.stages_run)}
    assert ran["conversations"] < ran["representatives"] < ran["tokenize"]
    assert ran["tokenize"] < ran["idf"]
    assert ran["idf"] < ran["vectors"]
    assert ran["postings"] < ran["candidate_pairs"] < ran["scored_pairs"]
    assert ran["vectors"] < ran["scored_pairs"]
    assert ran["scored_pairs"] < ran["edges"] < ran["clusters"]
    assert not ck1.stages_resumed

    # lineage: ≥1 partition row per stage, rows sum to stage row count
    lin = ck1.lineage()
    stages_in_lineage = {r["stage"] for r in lin.select("stage").distinct().collect()}
    assert stages_in_lineage == set(STAGES)
    conv_rows = (
        lin.filter(F.col("stage") == "conversations")
        .agg(F.sum("rows"))
        .collect()[0][0]
    )
    assert conv_rows == res1.conversations.count()
    assert lin.filter(F.col("rows") < 0).count() == 0

    # metrics: one non-resumed row per stage with wall_ms recorded
    met = ck1.metrics().filter(~F.col("resumed"))
    assert met.count() == len(STAGES)
    assert met.filter(F.col("wall_ms") < 0).count() == 0

    # resume: a second run over a *poisoned* input must return identical
    # clusters — proof it read checkpoints instead of recomputing.
    poisoned = tiny_tables["transcripts"].withColumn(
        "text", F.lit("poisoned if recomputed")
    )
    ck2 = Checkpointer(spark, root, run_id="r1")
    res2 = run_pipeline(poisoned, checkpointer=ck2)
    assert set(ck2.stages_resumed) == set(STAGES)
    assert not ck2.stages_run
    assert _clusters_set(res2.clusters) == clusters1


def test_invalidate_forces_recompute(spark, tiny_tables, tmp_path):
    root = str(tmp_path / "ck2")
    ck1 = Checkpointer(spark, root, run_id="r1")
    run_pipeline(tiny_tables["transcripts"], checkpointer=ck1)

    ck2 = Checkpointer(spark, root, run_id="r1")
    ck2.invalidate("clusters")
    res = run_pipeline(tiny_tables["transcripts"], checkpointer=ck2)
    assert ck2.stages_run == ["clusters"]
    assert res.clusters.count() > 0


def test_invalidate_cascades_downstream(spark, tiny_tables, tmp_path):
    """Invalidating a MID-pipeline stage recomputes it AND every later
    stage (round-2 fix: stale downstream checkpoints must never be mixed
    with a recomputed upstream)."""
    root = str(tmp_path / "ck4")
    ck1 = Checkpointer(spark, root, run_id="r1")
    run_pipeline(tiny_tables["transcripts"], checkpointer=ck1)

    ck2 = Checkpointer(spark, root, run_id="r1")
    ck2.invalidate("idf")  # cascade=True default
    res = run_pipeline(tiny_tables["transcripts"], checkpointer=ck2)
    i = STAGES.index("idf")
    assert sorted(ck2.stages_run) == sorted(STAGES[i:])
    assert set(ck2.stages_resumed) == set(STAGES[:i])
    # the token counts are read back, not re-exploded
    assert "tokenize" in ck2.stages_resumed and "tokenize" not in ck2.stages_run
    assert res.clusters.count() > 0


def test_checkpoint_stage_output_matches_direct(spark, tiny_tables, tmp_path):
    """Durable stage ≡ in-memory stage (same rows)."""
    direct = run_pipeline(tiny_tables["transcripts"])
    ck = Checkpointer(spark, str(tmp_path / "ck3"), run_id="r1")
    durable = run_pipeline(tiny_tables["transcripts"], checkpointer=ck)
    assert _clusters_set(direct.clusters) == _clusters_set(durable.clusters)
    assert direct.representatives.count() == durable.representatives.count()
