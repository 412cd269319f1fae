"""The traced run: each layer's public function called in turn, each under
its own Spark job group.

Every span records its wall time and the Python-worker CPU spent inside
it. The traced run is one window, opened by ``Tracer.begin`` and closed by
``Tracer.end``, with no other Spark work inside it (checks and funnel
counts run after ``end``). At ``end`` the status store's stages are
attributed to spans: by job group first, and by submission time for jobs
Spark runs under a group of its own (broadcast exchanges). A span's
``cpu_s`` is the JVM task CPU of its stages plus its Python-worker CPU.

Spans cover the batch layers of ``plans/pipeline.run_pipeline`` (called
here one by one instead of on two concurrent branches), the streaming
write path (``StreamingER.apply_batch`` and ``read_clusters``) and the
contract queries of ``__spark_entry__``.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from address_match_recommend_spark.config import PipelineConfig
from address_match_recommend_spark.functions.tokenize import explode_tokens
from address_match_recommend_spark.materialize import materialize
from address_match_recommend_spark.operators.blocking import candidate_pairs, postings
from address_match_recommend_spark.operators.canonicalize import canonicalize
from address_match_recommend_spark.operators.clustering import (
    assign_entities,
    connected_components,
)
from address_match_recommend_spark.operators.dedup import dedup_exact, exact_dup_edges
from address_match_recommend_spark.operators.scoring import score_pairs
from address_match_recommend_spark.operators.tfidf import idf_table, tfidf_vectors
from address_match_recommend_spark.plans.pipeline import STAGE_ORDER
from address_match_recommend_spark.sources.readers import read_transcripts_parquet

from sparkstats import StageCost, StatusStore, worker_cpu_s

BATCH_LAYERS = (
    "readers",
    "canonicalize",
    "dedup",
    "tokenize",
    "tfidf.idf",
    "tfidf.vectors",
    "blocking.postings",
    "blocking.candidate_pairs",
    "scoring",
    "clustering",
)
#: which layer runs each ``run_pipeline`` stage (reading the transcripts is
#: the ``readers`` layer, outside the stage list)
STAGE_LAYER = {
    "conversations": "canonicalize",
    "representatives": "dedup",
    "tokenize": "tokenize",
    "idf": "tfidf.idf",
    "vectors": "tfidf.vectors",
    "postings": "blocking.postings",
    "candidate_pairs": "blocking.candidate_pairs",
    "scored_pairs": "scoring",
    "edges": "clustering",
    "clusters": "clustering",
}
LAYER_METRICS = (
    "wall_s",
    "cpu_s",
    "gc_s",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "fetch_wait_s",
    "spill_mb",
    "rows_out",
)

#: the twelve contract queries the headline bench times (bench.BENCH_QUERIES)
CONTRACT_QUERIES = (
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
)


@dataclass
class Span:
    name: str
    start_ms: int
    end_ms: int
    wall_s: float
    py_cpu_s: float
    rows_out: int | None = None
    cost: StageCost = field(default_factory=StageCost)

    @property
    def cpu_s(self) -> float:
        return self.cost.cpu_s + self.py_cpu_s


class Tracer:
    def __init__(self, spark, jvm_pid: int):
        self.spark = spark
        self.sc = spark.sparkContext
        self.pid = jvm_pid
        self.store = StatusStore(spark)
        self.spans: list[Span] = []
        #: status-store totals over every stage run between begin and end,
        #: whether or not a span claims it
        self.total = StageCost()

    def span(self, name: str, thunk, count: bool = True):
        """Run ``thunk`` under job group ``name``; with ``count`` its result
        is a frame this call counts."""
        self.sc.setJobGroup(name, name)
        cpu0 = worker_cpu_s(self.pid)
        start_ms, t0 = int(time.time() * 1000), time.monotonic()
        out = thunk()
        rows = out.count() if count else None
        wall = time.monotonic() - t0
        end_ms = int(time.time() * 1000)
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.spans.append(
            Span(name, start_ms, end_ms, wall, worker_cpu_s(self.pid) - cpu0, rows)
        )
        return out

    def begin(self) -> None:
        """Open the traced window: ignore every stage run before it."""
        self.store.mark()

    def end(self) -> None:
        """Close the window: add every stage run since ``begin`` to the
        total, and charge it to the span that ran it."""
        by_name = {s.name: s for s in self.spans}
        for st in self.store.take(with_groups=True):
            self.total.add(st.cost)
            owner = by_name.get(st.job_group) or next(
                (s for s in self.spans if s.start_ms <= st.submitted_ms <= s.end_ms),
                None,
            )
            if owner is not None:
                owner.cost.add(st.cost)


def trace_batch(tracer: Tracer, transcripts_path: str, cfg: PipelineConfig):
    """The batch layers in ``run_pipeline`` order, each output materialized
    where the pipeline materializes it and counted where it does not (a
    lazy layer's work then runs again inside its consumers, as it does in
    the pipeline). Returns the scored pairs and the clusters."""
    if set(STAGE_LAYER) != set(STAGE_ORDER):
        raise RuntimeError(
            f"run_pipeline stages {STAGE_ORDER} no longer match the traced layers"
        )
    if cfg.use_structure or cfg.use_coord_density or cfg.materialize_tokens:
        raise RuntimeError("the traced run follows the default pipeline path only")
    spark, t = tracer.spark, tracer.span

    def eager(df):
        return materialize(df, cfg, eager=True)

    tr = t("readers", lambda: read_transcripts_parquet(spark, transcripts_path))
    conv = t("canonicalize", lambda: eager(canonicalize(tr, cfg)))
    reps = t(
        "dedup",
        lambda: eager(dedup_exact(conv).repartition(cfg.shuffle_partitions)),
    )
    n_docs = tracer.spans[-1].rows_out

    def tokenize():
        tokens = explode_tokens(reps, cfg)
        if cfg.hash_token_features:
            tokens = tokens.withColumn("token", F.xxhash64("token"))
        return tokens

    tokens = t("tokenize", tokenize)
    idf = t("tfidf.idf", lambda: eager(idf_table(tokens, n_docs, cfg)))
    vectors = t("tfidf.vectors", lambda: eager(tfidf_vectors(tokens, idf, cfg)))
    post = t("blocking.postings", lambda: postings(tokens, idf, cfg))
    pairs = t("blocking.candidate_pairs", lambda: eager(candidate_pairs(post, cfg)))
    scored = t("scoring", lambda: score_pairs(pairs, vectors, reps, cfg))

    def clustering():
        edges = (
            scored.filter(F.col("is_match"))
            .select("conv_id_a", "conv_id_b")
            .unionByName(exact_dup_edges(conv))
            .persist()
        )
        return eager(assign_entities(conv, connected_components(edges, cfg=cfg)))

    return scored, t("clustering", clustering)


def funnel_counts(scored, clusters) -> dict:
    """JW-band and component counts, on frames the traced run already
    materialized."""
    band = scored.filter(F.col("jw").isNotNull()).agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("is_match").cast("long")).alias("accepts"),
    ).first()
    largest = clusters.groupBy("entity_id").count().agg(F.max("count")).first()[0]
    return {
        "jw_band_rows": int(band["rows"]),
        "jw_accepts": int(band["accepts"] or 0),
        "largest_component": int(largest),
    }


def layer_metrics(tracer: Tracer, funnel: dict) -> dict:
    """``<layer>.<metric>`` for the batch layers plus the funnel ratios."""
    spans = {s.name: s for s in tracer.spans if s.name in BATCH_LAYERS}
    out = {}
    for layer, s in spans.items():
        vals = {"wall_s": s.wall_s, "cpu_s": s.cpu_s, "rows_out": s.rows_out}
        for k in LAYER_METRICS:
            out[f"{layer}.{k}"] = vals[k] if k in vals else getattr(s.cost, k)
    rows = {k: s.rows_out for k, s in spans.items()}
    out["dedup.rep_ratio"] = rows["dedup"] / rows["canonicalize"]
    out["blocking.pairs_per_conv"] = rows["blocking.candidate_pairs"] / rows["dedup"]
    out["scoring.keep_ratio"] = rows["scoring"] / max(rows["blocking.candidate_pairs"], 1)
    out["scoring.jw_band_rows"] = funnel["jw_band_rows"]
    out["scoring.jw_accept_ratio"] = funnel["jw_accepts"] / max(funnel["jw_band_rows"], 1)
    out["clustering.largest_component"] = funnel["largest_component"]
    return out


def trace_stream(tracer: Tracer, stream: dict, batch, state_dir: str, cfg: PipelineConfig):
    """Bootstrap ``StreamingER`` on the base corpus, apply the micro-batch
    (a materialized frame) and force ``read_clusters()`` after it. Returns
    the final clustering and the streaming state figures."""
    from address_match_recommend_spark.streaming.incremental import StreamingER

    spark, t = tracer.spark, tracer.span
    er = StreamingER(spark, state_dir, cfg)
    t("streaming.bootstrap", lambda: er.bootstrap(
        read_transcripts_parquet(spark, stream["base"])), count=False)
    t("streaming.apply", lambda: er.apply_batch(batch, 0), count=False)
    clusters = t("streaming.read_clusters", er.read_clusters)
    return clusters, {
        "streaming.chain_len": _chain_len(state_dir),
        "streaming.state_mb_per_input_mb": _du(state_dir)
        / (_du(stream["base"]) + _du(stream["batch"])),
    }


def stream_metrics(tracer: Tracer) -> dict:
    spans = {s.name: s for s in tracer.spans}
    apply, read = spans.get("streaming.apply"), spans.get("streaming.read_clusters")
    return {
        "streaming.apply.cpu_s": apply.cpu_s if apply else 0.0,
        "streaming.apply.shuffle_write_mb": apply.cost.shuffle_write_mb if apply else 0.0,
        "streaming.apply.gc_s": apply.cost.gc_s if apply else 0.0,
        "streaming.read_clusters_s": read.wall_s if read else 0.0,
    }


def trace_entry(tracer: Tracer, tables_dir: str) -> None:
    """Each contract query to a ``noop`` sink under group ``entry.<query>``."""
    import __spark_entry__ as entry

    queries = entry.queries()
    for name in CONTRACT_QUERIES:
        tracer.span(
            f"entry.{name}",
            lambda: queries[name](tracer.spark, tables_dir)
            .write.format("noop").mode("overwrite").save(),
            count=False,
        )


def entry_metrics(tracer: Tracer) -> dict:
    spans = {s.name: s for s in tracer.spans}
    out = {}
    for name in CONTRACT_QUERIES:
        s = spans.get(f"entry.{name}")
        out[f"entry.{name}.wall_s"] = s.wall_s if s else 0.0
        out[f"entry.{name}.cpu_s"] = s.cpu_s if s else 0.0
    return out


def _chain_len(state_dir: str) -> int:
    """Committed versions after the latest base (the state layout of
    ``streaming/incremental.py``: ``v<N>/`` dirs with ``_COMMIT`` and, for a
    base, ``_BASE`` markers)."""
    committed = sorted(
        d for d in os.listdir(state_dir)
        if d.startswith("v") and os.path.exists(f"{state_dir}/{d}/_COMMIT")
    )
    bases = [i for i, d in enumerate(committed) if os.path.exists(f"{state_dir}/{d}/_BASE")]
    return len(committed) - 1 - bases[-1]


def _du(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )
