#!/usr/bin/env python
"""Benchmark harness — headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints exactly ONE JSON line.

Headline metric (BASELINE.json): candidate-pairs-scored/sec through the
full record-linkage pipeline (canonicalize → dedup → TF-IDF → blocked
pair-gen → cosine+JW scoring → connected components), measured over a
deterministic synthetic transcript corpus sized to the SF tier, plus the
driver-contract queries over the /root/testdata tables.

Scaling-efficiency evidence (north rule, sandbox proxy for N vs 4N
executors): `python bench.py --scaling` / `--stage-scaling` runs the same
job on the same pre-generated input at local[N] and local[M] in fresh
JVMs; the pair defaults to (max(1, host_cores() // 4), host_cores()),
overridden by `--cores=N,M`.

Interleaved repeats + min per level defend against the VM's bursty
external CPU throttling; every run stamps loadavg + a before/after CPU
calibration. The stage probe runs one untimed warm-up execution first
(JVM codegen + AQE warm); the codegen part amortizes because get_spark
sizes the codegen cache to hold the engine's generated classes.
Results in BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from address_match_recommend_spark.session import host_cores  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
#: SPARK_GRAFT_CPUS, else this process's CPU affinity (as get_spark)
CPUS = host_cores()

# Shuffle/spill dirs on tmpfs when the box has one (must be set before
# the JVM starts). Single-node rationale in scaling() below: one shared
# virtual disk serializes shuffle I/O that a real cluster scales with
# its executors' local disks. Applies to the headline bench too so
# BENCH_r{N} measures the engine, not the sandbox disk.
if "SPARK_LOCAL_DIRS" not in os.environ and os.access("/dev/shm", os.W_OK):
    _shm = "/dev/shm/amr_shuffle"
    os.makedirs(_shm, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = _shm

#: synthetic-entity count per SF tier (pipeline input ≈ 4.5 convs/entity).
#: sf0.1 is sized so the headline measures THROUGHPUT, not the ~60 s
#: data-independent driver setup (round-1 lesson: 400 entities made the
#: constant ~50% of wall and er_pairs_per_sec meaningless).
ER_ENTITIES = {"sf0.001": 60, "sf0.01": 500, "sf0.1": 5000}

BENCH_QUERIES = [
    "tfidf_top1_similar",
    "candidate_pairs",
    "ngram_jaccard",
    "minhash_lsh",
    "simhash",
    "ann_cosine_topk",
    "token_counts",
    "text_quality",
    "pruned_agg",
    "broadcast_dim_join",
    "topk_orders",
    "sessionize_events",
]


def ensure_corpus_parquet(n_entities: int, out_dir: str) -> str:
    """Generate the deterministic corpus ONCE to parquet (pandas-side, no
    Spark) so repeated scaling runs read identical bytes with zero
    generation cost inside the measured window."""
    from address_match_recommend_spark.datagen import generate_corpus, write_corpus

    marker = os.path.join(out_dir, "_DONE")
    if not os.path.exists(marker):
        write_corpus(generate_corpus(n_entities=n_entities, seed=7), out_dir)
        open(marker, "w").close()
    return out_dir


def run_er_pipeline(spark, n_entities: int) -> dict:
    """Full pipeline on the synthetic corpus; returns timings + pair count.

    If SPARK_GRAFT_ER_CORPUS points at a pre-generated corpus dir
    (ensure_corpus_parquet), transcripts are read from parquet —
    the scaling-evidence path."""
    from address_match_recommend_spark.plans.pipeline import run_pipeline
    from address_match_recommend_spark.plans.evaluate import pairwise_f1

    corpus_dir = os.environ.get("SPARK_GRAFT_ER_CORPUS")
    if corpus_dir:
        transcripts = spark.read.parquet(f"{corpus_dir}/transcripts.parquet")
        labeled_pairs = spark.read.parquet(f"{corpus_dir}/labeled_pairs.parquet")
    else:
        from address_match_recommend_spark.datagen import corpus_to_spark, generate_corpus

        tables = corpus_to_spark(spark, generate_corpus(n_entities=n_entities, seed=7))
        transcripts = tables["transcripts"].localCheckpoint()  # exclude gen cost
        labeled_pairs = tables["labeled_pairs"]
    n_turns = transcripts.count()

    # Warm the Arrow/pandas Python workers (long-lived on a real cluster;
    # their cold spin-up is session setup, not pipeline throughput)
    from address_match_recommend_spark.functions.jaro_winkler import make_jw_udf
    from pyspark.sql import functions as F

    spark.range(64).select(make_jw_udf(8)(F.lit("ab"), F.lit("ac"))).count()

    t0 = time.monotonic()
    result = run_pipeline(transcripts)
    t_pipe = time.monotonic() - t0
    n_pairs_scored = result.scored.count()
    n_clusters = result.clusters.select("entity_id").distinct().count()
    wall = time.monotonic() - t0
    result.metrics["stage_sec"]["final_counts"] = round(wall - t_pipe, 3)

    f1 = pairwise_f1(labeled_pairs, result.clusters)["f1"]
    return {
        "sec": wall,
        "n_turns": n_turns,
        "pairs_scored": n_pairs_scored,
        "pairs_per_sec": n_pairs_scored / wall if wall > 0 else 0.0,
        "turns_per_sec": n_turns / wall if wall > 0 else 0.0,
        "n_clusters": n_clusters,
        "f1": round(f1, 4),
        "stage_sec": result.metrics.get("stage_sec", {}),
        "codegen_compiles": result.metrics["codegen_compiles"],
    }


def _loadavg1() -> float:
    """1-minute load average — stamped into every bench JSON so a reader
    can spot measurements taken under concurrent load (round-3 guard:
    BENCH_r02 was recorded while background scaling jobs were running,
    inflating stage walls 4-20×; VERDICT r2 'What's wrong' #1)."""
    try:
        return round(os.getloadavg()[0], 2)
    except OSError:  # pragma: no cover
        return -1.0


def _cpu_calibration(seconds: float = 2.0) -> float:
    """Single-core busy-loop iterations/sec measured in-process. The
    sandbox host throttles guest CPU in bursts (same stage measured 2-4×
    apart at identical config), so every timed run records the host's
    CURRENT throughput; scaling analysis can then drop or normalize runs
    taken in a throttled window instead of averaging noise."""
    t0 = time.monotonic()
    n = 0
    while time.monotonic() - t0 < seconds:
        n += 1
    return n / seconds


def run_er_scoring_timed(spark) -> dict:
    """Run the shipped pipeline's front half UNTIMED
    (``run_pipeline(until="candidate_pairs")``), then time the compute
    back-half: pair scoring + JW + edge build + connected
    components + assignment.

    This is the stage-scaling probe: at production scale (10^12 turns) the
    back-half dominates wall time, while the constant driver/codegen/
    Python-worker setup (~60-70 s in this sandbox, data-independent)
    amortizes to nothing (codegen only because get_spark's codegen cache
    holds every generated class; under Spark's 100-entry default each
    run recompiled them) — so back-half scaling is the faithful proxy for
    cluster N→4N behavior. The front-half stays untimed but still runs at
    the same parallelism.
    """
    from address_match_recommend_spark.config import PipelineConfig
    from address_match_recommend_spark.operators.clustering import (
        assign_entities,
        connected_components,
    )
    from address_match_recommend_spark.operators.scoring import score_pairs
    from address_match_recommend_spark.plans.pipeline import run_pipeline
    from pyspark.sql import functions as F

    corpus_dir = os.environ["SPARK_GRAFT_ER_CORPUS"]
    tr = spark.read.parquet(f"{corpus_dir}/transcripts.parquet")
    cfg = PipelineConfig()
    # the shipped plan's front half: every returned stage is materialized
    # with its lineage cut, so the timed back-half plans against
    # LogicalRDDs instead of re-planning the whole front-half DAG on
    # every action — driver-side planning is constant in cluster size and
    # was the dominant serial fraction in the round-2 scaling probe
    front = run_pipeline(tr, cfg, until="candidate_pairs")
    conv, reps = front.conversations, front.representatives
    vec, pairs = front.vectors, front.pairs
    n_pairs = pairs.count()
    dup_edges = front.dup_edges.localCheckpoint()
    # warm the Python workers so their spin-up isn't in the timed region
    from address_match_recommend_spark.functions.jaro_winkler import make_jw_udf

    spark.range(64).select(make_jw_udf(8)(F.lit("ab"), F.lit("ac"))).count()

    def back_half():
        scored = score_pairs(pairs, vec, reps, cfg)
        match_edges = scored.filter(F.col("is_match")).select(
            "conv_id_a", "conv_id_b"
        )
        edges = match_edges.unionByName(dup_edges).localCheckpoint()
        comp = connected_components(edges, cfg=cfg)
        clusters = assign_entities(conv, comp)
        n_clusters = clusters.select("entity_id").distinct().count()
        return scored, n_clusters

    # Warm-up execution (untimed): the FIRST run of a query shape pays
    # one-off driver costs — whole-stage-codegen compilation and cold AQE
    # statistics (measured: ~13 s constant in the dots stage at BOTH 4
    # and 16 cores, i.e. pure driver time, ~40% of the sandbox-sized
    # probe). Compilation stays paid only because get_spark sizes the
    # codegen cache to the engine: under Spark's 100-entry default a
    # repeated run recompiled most of its classes. The warm-up executes
    # the FULL computation (localCheckpoint forces materialization); the
    # timed run below then recomputes everything at steady state. Disable
    # with SPARK_GRAFT_SCORE_WARMUP=0.
    if os.environ.get("SPARK_GRAFT_SCORE_WARMUP", "1") != "0":
        back_half()

    calib = _cpu_calibration()
    t0 = time.monotonic()
    scored, n_clusters = back_half()
    wall = time.monotonic() - t0
    calib_after = _cpu_calibration()
    n_scored = scored.count()
    return {
        "sec": wall,
        "pairs_scored": n_scored,
        "pairs_per_sec": n_scored / wall if wall else 0.0,
        "n_candidate_pairs": n_pairs,
        "n_clusters": n_clusters,
        "calib_before": round(calib),
        "calib_after": round(calib_after),
    }


def main(er_only: bool = False, score_only: bool = False) -> None:
    from pyspark.sql import SparkSession  # noqa: F401
    from address_match_recommend_spark.session import get_spark
    import __spark_entry__ as entrymod

    sf_name = os.path.basename(SF_DIR.rstrip("/"))
    spark = get_spark(app_name=f"bench-{sf_name}", cores=CPUS)

    load_start = _loadavg1()
    # single-thread host-speed stamp: the sandbox's CPU delivery varies
    # up to ~4× day-to-day (BENCH/BASELINE.md "Same-day engine-version
    # control"), so every headline JSON records the host's current
    # throughput — compare calib across bench files before comparing
    # their walls.
    calib_start = round(_cpu_calibration())
    if score_only:
        r = run_er_scoring_timed(spark)
        print(json.dumps({
            "metric": "er_scoring_stage",
            "value": round(r["sec"], 3),
            "unit": "sec",
            "queries": {"er_scoring_stage": round(r["sec"], 3)},
            "sf": sf_name,
            "cpus": CPUS,
            "er_pairs_scored": r["pairs_scored"],
            "er_pairs_per_sec": round(r["pairs_per_sec"], 1),
            "calib_before": r["calib_before"],
            "calib_after": r["calib_after"],
            "loadavg_start": load_start,
        }))
        spark.stop()
        return

    queries: dict[str, float] = {}

    # 1. headline: ER pipeline throughput
    n_entities = int(
        os.environ.get("SPARK_GRAFT_ER_ENTITIES", ER_ENTITIES.get(sf_name, 150))
    )
    er = run_er_pipeline(spark, n_entities)
    queries["er_pipeline"] = round(er["sec"], 3)

    # 2. driver-contract queries against the SF tables
    if not er_only:
        qmap = entrymod.queries()
        for name in BENCH_QUERIES:
            t0 = time.monotonic()
            qmap[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
            queries[name] = round(time.monotonic() - t0, 3)

    total = round(sum(queries.values()), 3)
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "sf": sf_name,
        "cpus": CPUS,
        "er_pairs_scored": er["pairs_scored"],
        "er_pairs_per_sec": round(er["pairs_per_sec"], 1),
        "er_turns_per_sec": round(er["turns_per_sec"], 1),
        "er_f1": er["f1"],
        "er_stage_sec": er["stage_sec"],
        "er_codegen_compiles": er["codegen_compiles"],
        "loadavg_start": load_start,
        "loadavg_end": _loadavg1(),
        "calib_start": calib_start,
        "calib_end": round(_cpu_calibration()),
    }
    print(json.dumps(out))
    spark.stop()


def scaling(n_entities: int = 1200, repeats: int = 2, stage: bool = False,
            cores_pair: tuple[int, int] | None = None) -> None:
    """Scaling-efficiency evidence (north rule, sandbox proxy for N vs 4N
    executors): the SAME job on the SAME pre-generated input at local[N]
    and local[M] (default: a quarter of the host's cores vs all of them),
    fresh JVM each.

    The sandbox VM's CPU throughput is externally throttled in bursts
    (identical stages measured 30 s vs 85 s minutes apart), so runs are
    INTERLEAVED across parallelism levels and the min per level is taken —
    min is the standard noise-robust estimator under one-sided noise.

    ``stage=True`` times only the compute back-half (scoring → clustering,
    Python workers pre-warmed): the data-independent driver/codegen/worker
    setup (~60-70 s here; codegen is paid once per session because
    get_spark sizes the codegen cache) would be ~0% of a 10^12-turn run
    but is ~50% of a sandbox-sized one, so whole-job wall at this scale
    understates cluster scaling; the back-half probe is the faithful
    proxy. Both numbers are reported in BENCH/BASELINE.md.

    efficiency = (throughput_M / throughput_N) / (M / N) = (T_N / T_M) / (M / N).
    """
    import subprocess

    corpus_dir = ensure_corpus_parquet(
        n_entities, f"/tmp/amr_scaling_corpus_{n_entities}"
    )
    mode_flag = "--score-only" if stage else "--er-only"
    metric_key = "er_scoring_stage" if stage else "er_pipeline"
    lo, hi = cores_pair or (max(1, CPUS // 4), CPUS)
    runs: dict[int, list] = {lo: [], hi: []}
    order = [lo, hi] * repeats  # interleaved: each level samples every epoch
    for cores in order:
        env = dict(
            os.environ,
            SPARK_GRAFT_CPUS=str(cores),
            SPARK_GRAFT_ER_ENTITIES=str(n_entities),
            SPARK_GRAFT_ER_CORPUS=corpus_dir,
            # identical job config at both parallelism levels; only the
            # core count differs (the N vs 4N executor proxy)
            SPARK_GRAFT_SHUFFLE_PARTITIONS="64",
        )
        # Shuffle/spill dirs on tmpfs when the box has one: in THIS
        # single-node proxy every core level funnels shuffle bytes
        # through the same virtual disk, so byte-heavy stages measure
        # shared-disk bandwidth, not core scaling — on a real N→4N
        # cluster shuffle I/O capacity grows with the executors (each
        # brings its own local disks). Identical at both levels, so the
        # comparison stays fair; compute-heavy stages are unaffected
        # (measured: scored_pairs unchanged, front-half stages −30%).
        if "SPARK_LOCAL_DIRS" not in env and os.access("/dev/shm", os.W_OK):
            shm = "/dev/shm/amr_shuffle"
            os.makedirs(shm, exist_ok=True)
            env["SPARK_LOCAL_DIRS"] = shm
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), mode_flag],
            env=env, capture_output=True, text=True, check=True,
        )
        line = [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
        runs[cores].append(json.loads(line))
    results = {c: min(rs, key=lambda r: r["value"]) for c, rs in runs.items()}
    r_lo, r_hi = results[lo], results[hi]
    t_lo, t_hi = r_lo["queries"][metric_key], r_hi["queries"][metric_key]
    eff = (t_lo / t_hi) / (hi / lo) if t_hi else 0.0
    # Min-stage composite (whole-job mode): per level, take each stage's
    # MIN across the interleaved epochs and sum. The host throttles CPU
    # in multi-minute bursts that hit DIFFERENT stages in different
    # epochs; whole-run min still carries whichever burst its best epoch
    # absorbed, while the stage-wise min composes a burst-free run from
    # the epochs' calm windows (protocol validated on the r3 idle-machine
    # triplet, BENCH/BASELINE.md). Reported alongside, never instead of,
    # the whole-run min.
    composite: dict[str, float] = {}
    for c, rs in runs.items():
        stages = [r["er_stage_sec"] for r in rs if r.get("er_stage_sec")]
        if stages:
            composite[str(c)] = round(
                sum(min(s.get(k, 0.0) for s in stages) for k in stages[0]), 3
            )
    eff_comp = None
    if len(composite) == 2 and composite[str(hi)]:
        eff_comp = round(
            (composite[str(lo)] / composite[str(hi)]) / (hi / lo), 3
        )
    print(json.dumps({
        "scaling": {
            "mode": "scoring_stage" if stage else "whole_job",
            "cores": [lo, hi],
            "n_entities": n_entities,
            "sec": [t_lo, t_hi],
            "er_pairs_per_sec": [r_lo["er_pairs_per_sec"], r_hi["er_pairs_per_sec"]],
            "efficiency": round(eff, 3),
            "stage_min_composite_sec": composite or None,
            "efficiency_stage_composite": eff_comp,
            "all_runs_sec": {str(c): [r["value"] for r in rs] for c, rs in runs.items()},
        },
        "runs": {str(k): v for k, v in results.items()},
    }))


if __name__ == "__main__":
    ents = [a for a in sys.argv if a.startswith("--entities=")]
    n_ents = int(ents[0].split("=")[1]) if ents else 1200
    reps = [a for a in sys.argv if a.startswith("--repeats=")]
    n_reps = int(reps[0].split("=")[1]) if reps else 2
    cp = [a for a in sys.argv if a.startswith("--cores=")]
    pair = tuple(int(x) for x in cp[0].split("=")[1].split(",")) if cp else None
    if "--stage-scaling" in sys.argv:
        scaling(n_ents, n_reps, stage=True, cores_pair=pair)
    elif "--scaling" in sys.argv:
        scaling(n_ents, n_reps, cores_pair=pair)
    else:
        main(er_only="--er-only" in sys.argv, score_only="--score-only" in sys.argv)
