"""Stage 8 — entity resolution: connected components over match edges.

The reference resolves greedily — top-N most-similar per query
(``Query.AddSimiDoc`` /root/reference/models/query.go:12-33). The north
rule replaces that with transitive clustering: iterative
**large-star/small-star** label propagation (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC 2014 — public algorithm),
expressed as a driver loop of DataFrame jobs. Catalyst cannot express
iteration, so the loop lives in Python; each iteration checkpoints to cut
lineage (otherwise the plan grows exponentially) and convergence is
detected by an order-insensitive (count, hash-sum) signature of the edge
set — two tiny aggregates, no collect of data rows. A loop that reaches
``cfg.max_cc_iterations`` unconverged raises instead of returning a
partial clustering.

Entity id = lexicographic min conv_id of the component (matches the
expected_clusters fixture convention).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..config import PipelineConfig


def _symmetric(e: DataFrame) -> DataFrame:
    return e.select("u", "v").unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )


def _large_star(e: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(Γ(u) ∪ {u})."""
    nbrs = _symmetric(e)
    mins = nbrs.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        nbrs.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Connect every smaller-or-equal neighbor (and u itself) to the min."""
    oriented = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v"))
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
    to_min = (
        oriented.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    self_edge = mins.select(F.col("u"), F.col("m").alias("v"))
    return (
        to_min.unionByName(self_edge)
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _driver_union_find(e: DataFrame) -> DataFrame:
    """Small-graph fast path: collect the edge list and run union-find
    with path compression on the driver, returning (conv_id, entity_id)
    with entity_id = lexicographic min of the component — bit-identical
    to the distributed loop's output.

    Rationale (the broadcast-join pattern applied to iteration): below
    the size gate the distributed large-star/small-star loop is bound by
    per-iteration DRIVER latency (plan + schedule + collect ≈ 1 s ×
    ~8-10 iterations, measured ~9-11 s at every core count — pure
    Amdahl), while the same edge list collects in well under a second
    (edge pairs are two short ids; the gate bounds the transfer to tens
    of MB, the same order as a broadcast side). Above the gate the
    exact distributed loop runs unchanged — at 10^12 turns the match
    graph is far past it and iteration compute, which DOES scale with
    executors, dominates the fixed driver term.

    Ids are factorized to int codes before the union-find (ADVICE r3): a
    dict of 2×|E| boxed 64-char strings costs several hundred MB of
    driver RSS at the 2M-edge gate, while the int-array parent table is
    8·|V| bytes; the original strings are touched only at union time
    (lexicographic-min comparison) and for the final output mapping."""
    import numpy as np
    import pandas as pd

    pdf = e.toPandas()  # Arrow path: two string columns, not Row objects
    codes, uniques = pd.factorize(
        pd.concat([pdf["u"], pdf["v"]], ignore_index=True), sort=False
    )
    n_edges = len(pdf)
    parent = np.arange(len(uniques), dtype=np.int64)

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(codes[:n_edges].tolist(), codes[n_edges:].tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by lexicographic min so roots converge toward the
            # component's min id without a second pass
            lo, hi = (ra, rb) if uniques[ra] < uniques[rb] else (rb, ra)
            parent[hi] = lo
    roots = np.fromiter(
        (find(i) for i in range(len(uniques))), dtype=np.int64, count=len(uniques)
    )
    # Return through a pandas frame: createDataFrame(pandas) ships the two
    # string columns over Arrow in columnar batches, where a Python list of
    # tuples takes the per-row pickle path — measured seconds of driver
    # time at a few hundred thousand components, core-count-independent
    # (pure Amdahl in the N→4N proxy).
    out = pd.DataFrame(
        {"conv_id": np.asarray(uniques), "entity_id": np.asarray(uniques)[roots]}
    )
    return e.sparkSession.createDataFrame(out, "conv_id string, entity_id string")


def _signature(e: DataFrame) -> tuple[int, int]:
    # decimal(38,0) sum: ANSI-safe (no long overflow) and order-insensitive
    row = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")), F.lit(0)
        ).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def connected_components(
    edges: DataFrame,
    src: str = "conv_id_a",
    dst: str = "conv_id_b",
    cfg: PipelineConfig | None = None,
) -> DataFrame:
    """(conv_id, entity_id) for every node appearing in ``edges``.

    Driver-iterated large-star/small-star; provably convergent in
    O(log² n) rounds. Each round ends in a checkpoint (executor-local
    blocks by default; durable under ``cfg.reliable_checkpoint`` —
    materialize.py) so the logical plan stays O(1) deep.
    """
    cfg = cfg or PipelineConfig()
    from ..materialize import materialize

    e = materialize(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct(),
        cfg,
        eager=False,  # materialized by the count below
    )
    n_edges = e.count()
    if n_edges <= cfg.cc_driver_max_edges:
        return _driver_union_find(e)
    # Right-size the loop's shuffle width to the edge count: every
    # iteration is 2 shuffles + a checkpoint + a collect, and running a
    # 10k-edge iteration at the corpus-wide partition count pays ~100×
    # more task-scheduling overhead than data processing (measured 2.2×
    # on the whole loop). ~250k edges per partition keeps partitions in
    # memory at any scale. CAVEAT: spark.sql.shuffle.partitions is
    # session-global, so the temporary override below is visible to any
    # query that starts on this session DURING the loop — the pipeline
    # is strictly sequential so this never happens here; callers running
    # concurrent queries on a shared session should clone a session
    # (spark.newSession()) for the CC call. (AQE advisory-size
    # coalescing was tried as a race-free alternative and rejected: it
    # also coalesced the compute-heavy scoring shuffles and wrecked
    # their core scaling — see session.py.)
    spark = e.sparkSession
    # Floor at the session's core count: the round-2 floor of 4 capped
    # every CC shuffle at 4 tasks, idling half the executors at local[8]
    # (measured: the clusters stage scaled 13.0 s @ 2 cores → only
    # 9.2 s @ 8). Data-proportional above that, so a 10k-edge loop still
    # avoids corpus-width task-scheduling overhead.
    parts = max(
        spark.sparkContext.defaultParallelism,
        min(cfg.shuffle_partitions, 1 + n_edges // 250_000),
    )
    prev_conf = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    try:
        prev_sig = None
        for _ in range(cfg.max_cc_iterations):
            # lazy checkpoint + signature = ONE job per iteration: the
            # signature's aggregate materializes the checkpoint blocks
            # (round-3: the eager checkpoint ran a separate job first,
            # doubling the loop's driver-synchronized job count)
            e = materialize(_small_star(_large_star(e)), cfg, eager=False)
            sig = _signature(e)
            if sig == prev_sig:
                break
            prev_sig = sig
        else:
            raise RuntimeError(
                f"connected_components did not converge within "
                f"max_cc_iterations={cfg.max_cc_iterations} "
                f"({n_edges} input edges)"
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_conf)

    # converged edge set is a forest of stars child → root
    assign = e.groupBy("u").agg(F.min("v").alias("entity_id"))
    roots = (
        e.select(F.col("v").alias("u"))
        .distinct()
        .join(assign, "u", "left_anti")
        .select("u", F.col("u").alias("entity_id"))
    )
    return (
        assign.select(F.col("u").alias("conv_id"), "entity_id")
        .unionByName(roots.select(F.col("u").alias("conv_id"), "entity_id"))
    )


def assign_entities(
    conversations: DataFrame, components: DataFrame
) -> DataFrame:
    """All conversations with entity ids; singletons map to themselves."""
    return (
        conversations.select("conv_id")
        .join(components, "conv_id", "left")
        .select(
            "conv_id",
            F.coalesce(F.col("entity_id"), F.col("conv_id")).alias("entity_id"),
        )
    )
