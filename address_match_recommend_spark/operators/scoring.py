"""Stage 7 — pairwise scoring: cosine over TF-IDF vectors + Jaro-Winkler.

Analog of the reference's ``computeDocSimilarity`` (reference
core/similarity.go:432-549): accumulate ΣqW·dW, ΣqW², ΣdW² over matched
terms and take cosine = sumQD/√(sumQQ·sumDD) (:540). There it is a
per-pair Go loop with a lazy TermsMap hash probe (models/document.go:
26-39).

Here it is one join and one Arrow pass (:func:`score_pairs`). Each
candidate pair picks up both sides' ``vec`` keys and weights as arrays,
and a ``mapInArrow`` batch (the batch-at-a-time UDF of PAPERS
"Accelerating Python UDFs in Vectorized Query Execution") matches every
pair's ids exactly with numpy, sums the products and both squared norms
in id order and takes the cosine. The order of every sum depends on the
pair alone, so reruns are bit-identical and score(x, x) is exactly 1 (the
reference's own README admits its scores don't reach 1.0 on identical
strings, README.md:141-142 — a quirk we fix, SURVEY §2.9).

The same pass runs Jaro-Winkler (the north rule's tie-break) on the
borderline band tau_lo ≤ cos < tau_hi only. That band is not a small
fraction of pairs: on the default generator it holds most of them
(SURVEY §11: 291,401 of 392,038 scored pairs, 74%, at 50k entities). Its
cost is kept proportional to its rows by a linear-time batch kernel
(functions/jaro_winkler.py).
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, Observation, functions as F
from pyspark.sql import types as T

from ..config import PipelineConfig
from ..functions.jaro_winkler import jaro_winkler_batch
from ..materialize import materialize

#: typed structural terms (operators/structure.py); every other key is text
TYPED_TERM = r"^(role|tool|nturns):"

#: broadcast the per-conversation side of the pair join while its rows'
#: bytes (:func:`_side_bytes`) are at most this fraction of the driver's
#: max heap (~440 MB on a 7 GB heap); past it the joins are plain and AQE
#: decides.
BROADCAST_HEAP_FRACTION = 1 / 16


def jw_partitions(n_rows: int, batch_rows: int, max_partitions: int) -> int:
    """Python tasks for ``n_rows`` rows: one per Arrow batch of
    ``batch_rows`` (``spark.sql.execution.arrow.maxRecordsPerBatch``;
    ≤ 0 means unbounded), at least 1, at most ``max_partitions``."""
    if batch_rows <= 0:
        return 1
    return max(1, min(-(-n_rows // batch_rows), max_partitions))


def _side_bytes(vectors: DataFrame, prefix_chars: int) -> Column:
    """Bytes of a side row as ``UnsafeRow`` lays it out: 16 per map entry
    (id and weight), string ids' UTF-8 bytes in whole words, the conv_id,
    the text prefix and 112 of headers. At the 4-core headline it reads
    ≤ 0.7% above the rows' own sizes (51.0 MB long-keyed, 70.7 MB
    string-keyed; Spark's hashed relation of them takes whole 64 MiB
    pages: 65.0 and 129.0 MiB, BroadcastExchange ``data size``)."""
    n = F.size("vec")
    ids = F.lit(0)
    if isinstance(vectors.schema["vec"].dataType.keyType, T.StringType):
        ids = F.aggregate(
            F.map_keys("vec"),
            F.lit(0).cast("long"),
            lambda acc, k: acc + F.ceil(F.octet_length(k) / 8) * 8,
        )
    return 112 + 16 * n + ids + F.octet_length("conv_id") + prefix_chars


def pair_dots(ids_a, w_a, len_a, ids_b, w_b, len_b, text_scale=None):
    """(dot, ‖a‖², ‖b‖², n_matched) per row of two batches of sparse
    vectors, given as flat (id, weight) runs of ``len_a``/``len_b``
    entries per row. Ids (Arrow, long or string) are numbered in sorted
    order, so (row, id number) is an exact per-row key, and every sum runs
    in (row, id) order. ``text_scale`` (one factor per row) scales each
    matched text term's product; typed terms (:data:`TYPED_TERM`) not."""
    n = len(len_a)
    ids = pa.concat_arrays([ids_a, ids_b])
    uniq = pc.unique(ids)
    uniq = uniq.take(pc.array_sort_indices(uniq))
    code = pc.index_in(ids, value_set=uniq).to_numpy()
    u = max(len(uniq), 1)
    ka = np.repeat(np.arange(n, dtype=np.int64), len_a) * u + code[: len(ids_a)]
    kb = np.repeat(np.arange(n, dtype=np.int64), len_b) * u + code[len(ids_a) :]
    # runs arrive sorted (tfidf_vectors sorts the map's keys), and a
    # stable sort of sorted input is one linear pass
    oa, ob = np.argsort(ka, kind="stable"), np.argsort(kb, kind="stable")
    ka, wa, kb, wb = ka[oa], w_a[oa], kb[ob], w_b[ob]
    ss_a = np.bincount(ka // u, weights=wa * wa, minlength=n)
    ss_b = np.bincount(kb // u, weights=wb * wb, minlength=n)
    pos = np.minimum(np.searchsorted(kb, ka), max(len(kb) - 1, 0))
    hit = kb[pos] == ka if len(kb) else np.zeros(len(ka), dtype=bool)
    key, prod = ka[hit], wa[hit] * wb[pos[hit]]
    row = key // u
    if text_scale is not None:
        text = np.ones(len(key), dtype=bool)
        if not pa.types.is_integer(uniq.type):  # string or large_string
            typed = pc.match_substring_regex(uniq, TYPED_TERM)
            text = ~typed.to_numpy(zero_copy_only=False)[key % u]
        prod = np.where(text, prod * text_scale[row], prod)
    dot = np.bincount(row, weights=prod, minlength=n)
    return dot, ss_a, ss_b, np.bincount(row, minlength=n)


def _flat(col: pa.Array) -> tuple[pa.Array, np.ndarray]:
    """(values, per-row lengths) of a list column."""
    lens = pc.fill_null(pc.list_value_length(col), 0).to_numpy()
    return col.flatten(), lens.astype(np.int64)


def _score_batches(batches, tau_lo, tau_hi, jw_threshold, with_text):
    """The scoring pass over Arrow batches of joined pair rows."""
    for b in batches:
        (ids_a, len_a), (w_a, _) = _flat(b.column("ids_a")), _flat(b.column("ws_a"))
        (ids_b, len_b), (w_b, _) = _flat(b.column("ids_b")), _flat(b.column("ws_b"))
        scale = b.column("text_scale").to_numpy(zero_copy_only=False)
        dot, ss_a, ss_b, n_hit = pair_dots(
            ids_a, w_a.to_numpy(), len_a, ids_b, w_b.to_numpy(), len_b,
            None if (scale == 1).all() else scale,
        )
        dot += b.column("dot_adj").to_numpy(zero_copy_only=False)
        # √(‖a‖²·‖b‖²), not ‖a‖·‖b‖: √(s·s) is s exactly, so an identical
        # pair scores 1.0; the clamp catches rounding on near-identical ones
        den = np.sqrt(ss_a * ss_b)
        cos = np.minimum(dot / np.where(den > 0, den, 1.0), 1.0) * (den > 0)
        # a pair sharing no key has cosine 0: no evidence of a match
        keep = (n_hit > 0) & (cos >= tau_lo)
        cos = cos[keep]
        band = (cos < tau_hi) & with_text
        jw = np.zeros(len(cos))
        if band.any():
            idx = pa.array(np.nonzero(keep)[0][band])
            t_a, t_b = (
                pc.fill_null(b.column(c), "").take(idx).to_pylist()
                for c in ("text_a", "text_b")
            )
            jw[band] = jaro_winkler_batch(t_a, t_b)
        mask = pa.array(keep)
        yield pa.RecordBatch.from_arrays(
            [
                b.column("conv_id_a").filter(mask),
                b.column("conv_id_b").filter(mask),
                pa.array(cos, pa.float64()),
                pa.array(jw, pa.float64(), mask=~band),
                pa.array((cos >= tau_hi) | (band & (jw >= jw_threshold))),
            ],
            names=["conv_id_a", "conv_id_b", "cosine", "jw", "is_match"],
        )


def score_pairs(
    pairs: DataFrame,
    vectors: DataFrame,
    conversations: DataFrame | None = None,
    cfg: PipelineConfig | None = None,
    tokens: DataFrame | None = None,
) -> DataFrame:
    """(conv_id_a, conv_id_b, cosine[, jw], is_match), materialized.

    Pairs sharing no weighted key or below ``tau_lo`` are dropped. With
    ``conversations``, band pairs (tau_lo ≤ cosine < tau_hi) get the
    Jaro-Winkler score of the two ``jw_prefix_chars`` text prefixes
    (``jw`` is null elsewhere) and match if it reaches ``jw_threshold``;
    without it there is no ``jw`` column and a pair matches iff
    cosine ≥ tau_hi.

    One join and one Arrow pass (:func:`_score_batches`). The two scoring
    modes are terms of that pass:

    - ``cfg.use_structure`` with ``conversations``: the nturns near-miss
      (reference road-number analog, core/similarity.go:305-316). When
      the sides' nturns buckets differ the key match misses the
      turn-count term, which the reference dampens by (1/⁴√(Δ+1))·2
      instead of zeroing; that cross term is added to the dot, computed
      JVM-side on the joined pair row. Norms keep the static exact-match
      boost (3.0): they cannot be pair-conditional here.
    - ``cfg.use_coord_density`` with ``tokens``: reference ranking parity
      (core/similarity.go:502-516). Each matched TEXT term's product is
      scaled by the pair's coord·density (:func:`coord_density`); typed
      terms keep coord = density = 1 (:505-508). Norms stay static
      (SURVEY §2.9 — F1 is the gate).
    """
    cfg = cfg or PipelineConfig()
    spark = pairs.sparkSession
    with_text = conversations is not None
    nearmiss = with_text and cfg.use_structure and "n_turns" in conversations.columns
    # The pairs are read once: a lazy pair plan (a postings join, a
    # self-join) would otherwise run for the count and again for the
    # pass. Their count rides on the materializing job; the side's bytes
    # take one narrow job over ``vectors`` (an aggregate would take two).
    n_pairs, sizes = Observation(), Observation()
    count = F.count(F.lit(1)).alias("n")
    pairs = materialize(pairs.select("conv_id_a", "conv_id_b").observe(n_pairs, count), cfg)
    side_bytes = _side_bytes(vectors, cfg.jw_prefix_chars if with_text else 0)
    noop = vectors.observe(sizes, F.sum(side_bytes).alias("b")).write.format("noop")
    noop.mode("overwrite").save()
    side = vectors.select(
        "conv_id",
        "vec",
        F.map_keys("vec").alias("ids"),
        F.map_values("vec").alias("ws"),
    )
    if with_text:
        text = F.substring("canonical_text", 1, cfg.jw_prefix_chars).alias("text")
        extra = [text, "n_turns"] if nearmiss else [text]
        side = side.join(conversations.select("conv_id", *extra), "conv_id", "left")
    if nearmiss:
        from .structure import NTURNS_EXACT_BOOST, nearmiss_boost, nturns_bucket

        # hashed keys (cfg.hash_token_features) hold the xxhash64 feature id
        ntok = F.concat(F.lit("nturns:"), nturns_bucket(F.col("n_turns")))
        if isinstance(vectors.schema["vec"].dataType.keyType, T.LongType):
            ntok = F.xxhash64(ntok)
        side = side.withColumn("w_n", F.element_at("vec", ntok))
    side = side.drop("vec")
    # Spark's own plan estimate is no guide: on a checkpointed vectors
    # frame of a few hundred rows it reads tens to hundreds of GB.
    heap = spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory()
    if (sizes.get["b"] or 0) <= heap * BROADCAST_HEAP_FRACTION:
        side = F.broadcast(side)

    def one(s: str) -> DataFrame:
        return side.select(*[F.col(c).alias(f"{c}_{s}") for c in side.columns])

    joined = pairs.join(one("a"), "conv_id_a").join(one("b"), "conv_id_b")
    adj, scale = F.lit(0.0), F.lit(1.0)
    if nearmiss:
        na, nb = F.col("n_turns_a"), F.col("n_turns_b")
        adj = F.when(
            F.col("w_n_a").isNotNull()
            & F.col("w_n_b").isNotNull()
            & (nturns_bucket(na) != nturns_bucket(nb)),
            F.col("w_n_a") * F.col("w_n_b") * nearmiss_boost(na - nb),
        ).otherwise(F.lit(0.0)) / NTURNS_EXACT_BOOST
    if cfg.use_coord_density and tokens is not None:
        cd = coord_density(pairs, tokens).drop("matched")
        joined = joined.join(cd, ["conv_id_a", "conv_id_b"], "left")
        scale = F.coalesce("coord", F.lit(1.0)) * F.coalesce("density", F.lit(1.0))
    texts = ["text_a", "text_b"] if with_text else []
    # One Python task per Arrow batch, not full width: each task pays a
    # fixed ~0.24 s of worker CPU before its first row (4-vCPU host,
    # Python 3.11, Spark 4.1: pyspark's worker_util.setup_spark_files
    # calls importlib.invalidate_caches(), so every zipimporter re-reads
    # pyspark.zip's directory). Coalescing after the joins holds that
    # width whichever join strategy runs; it narrows only the scan of
    # the materialized pairs or the last join's shuffle read.
    batch_rows = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    joined = joined.select(
        *["conv_id_a", "conv_id_b", "ids_a", "ws_a", "ids_b", "ws_b"] + texts,
        adj.cast("double").alias("dot_adj"),
        scale.cast("double").alias("text_scale"),
    ).coalesce(jw_partitions(n_pairs.get["n"], batch_rows, cfg.shuffle_partitions))
    schema = pairs.schema.add("cosine", "double").add("jw", "double")
    schema = schema.add("is_match", "boolean")
    run = partial(_score_batches, tau_lo=cfg.tau_lo, tau_hi=cfg.tau_hi)
    run = partial(run, jw_threshold=cfg.jw_threshold, with_text=with_text)
    scored = joined.mapInArrow(run, schema)
    return materialize(scored if with_text else scored.drop("jw"), cfg, eager=True)


def coord_density(pairs: DataFrame, tokens: DataFrame) -> DataFrame:
    """Reference-parity coord/density per pair (A4/A5).

    The reference computes, over the query doc's text terms
    (/root/reference/core/similarity.go:435-483):
      coord   = √(matched / n_query_text_terms)·0.5 + 0.5   (:466)
      density = √(matched / (matchEnd − matchStart + 1))·0.5 + 0.5 (:482)
    where matchStart/End are positions of matched terms in the query's
    term order. Here "query" is side a of each pair; ``tokens`` is the
    exploded (conv_id, pos, token) table, positions from posexplode
    (SURVEY §2.5). Uses true float division, not the reference's
    integer-division quantization (SURVEY §2.9).

    All relational: token-intersection join + one aggregation per pair.

    Only TEXT terms participate (reference F4 predicate,
    /root/reference/core/similarity.go:437-446): if ``tokens`` carries a
    ``type`` column (structure-aware mode), typed structural tokens are
    excluded here — their pos=-1 sentinel would corrupt match_start.
    """
    if "type" in tokens.columns:
        tokens = tokens.filter(F.col("type") == "X")
    ta = tokens.select(
        F.col("conv_id").alias("conv_id_a"), F.col("pos").alias("pos_a"), "token"
    )
    tb = tokens.select(F.col("conv_id").alias("conv_id_b"), "token").distinct()
    n_terms = tokens.groupBy(F.col("conv_id").alias("conv_id_a")).agg(
        F.count(F.lit(1)).alias("n_terms_a")
    )
    matched = (
        pairs.join(ta, "conv_id_a")
        .join(tb, ["conv_id_b", "token"], "left_semi")
        .groupBy("conv_id_a", "conv_id_b")
        .agg(
            F.count(F.lit(1)).alias("matched"),
            F.min("pos_a").alias("match_start"),
            F.max("pos_a").alias("match_end"),
        )
    )
    half = F.lit(0.5)
    ratio_c = F.col("matched") / F.col("n_terms_a")
    ratio_d = F.col("matched") / (
        F.col("match_end") - F.col("match_start") + F.lit(1)
    )
    # NOTE: n_terms is one row PER CONVERSATION — O(corpus) — so it must
    # NOT be broadcast (round-1 fix: a broadcast here OOMs the driver at
    # 10^8+ conversations). It shares the conv_id_a key with `matched`;
    # AQE picks a shuffled hash join and can co-locate with the upstream
    # aggregation's partitioning.
    return (
        matched.join(n_terms, "conv_id_a")
        .withColumn("coord", F.sqrt(ratio_c) * half + half)
        .withColumn("density", F.sqrt(ratio_d) * half + half)
        .select("conv_id_a", "conv_id_b", "matched", "coord", "density")
    )


def explain_matches(
    pairs: DataFrame,
    vectors: DataFrame,
    tokens: DataFrame,
) -> DataFrame:
    """Explain output — the reference's per-term match explanations
    ``MatchedTerm{Term, Coord, Density, Boost, TfIdf}``
    (/root/reference/models/matched_term.go:4-10, populated at
    /root/reference/core/similarity.go:518-530): for each candidate pair,
    every matched term with its contribution components, so a user
    debugging a bad match sees exactly which terms drove the score.

    Output: (conv_id_a, conv_id_b, token, type, w_a, w_b, boost, coord,
    density) — one row per matched term per pair. Like the reference,
    coord/density are pair-level values stamped on each TEXT term
    (non-text terms get -1.0, similarity.go:523-527); ``boost`` is the
    type boost (1.0 when no type information is present).

    All relational: an exploded-vector equi-join on (pair, token) plus
    one coord_density aggregation — no Python, no broadcast of
    corpus-sized tables.
    """
    wa = vectors.select(
        F.col("conv_id").alias("conv_id_a"), F.explode("vec").alias("token", "w_a")
    )
    wb = vectors.select(
        F.col("conv_id").alias("conv_id_b"), F.explode("vec").alias("token", "w_b")
    )
    matched = pairs.select("conv_id_a", "conv_id_b").join(wa, "conv_id_a").join(
        wb, ["conv_id_b", "token"]
    )

    if "type" in tokens.columns:
        from .structure import DEFAULT_BOOSTS

        types = tokens.select("token", "type").distinct()
        boost_col = F.lit(DEFAULT_BOOSTS.get("X", 1.0))
        for code, w in DEFAULT_BOOSTS.items():
            boost_col = F.when(F.col("type") == code, F.lit(float(w))).otherwise(
                boost_col
            )
        matched = matched.join(types, "token", "left").withColumn(
            "type", F.coalesce(F.col("type"), F.lit("X"))
        )
        matched = matched.withColumn("boost", boost_col)
    else:
        matched = matched.withColumn("type", F.lit("X")).withColumn(
            "boost", F.lit(1.0)
        )

    cd = coord_density(pairs, tokens).select(
        "conv_id_a", "conv_id_b", "coord", "density"
    )
    out = matched.join(cd, ["conv_id_a", "conv_id_b"], "left")
    is_text = F.col("type") == "X"
    return out.select(
        "conv_id_a",
        "conv_id_b",
        "token",
        "type",
        "w_a",
        "w_b",
        "boost",
        F.when(is_text, F.coalesce(F.col("coord"), F.lit(1.0)))
        .otherwise(F.lit(-1.0))
        .alias("coord"),
        F.when(is_text, F.coalesce(F.col("density"), F.lit(1.0)))
        .otherwise(F.lit(-1.0))
        .alias("density"),
    )


def top_k_matches(scored: DataFrame, k: int = 1) -> DataFrame:
    """Reference semantics: greedy top-N similar docs per query
    (``Query.AddSimiDoc`` /root/reference/models/query.go:12-33, descending
    sort :88-106). Emits both directions so every conversation gets its
    best neighbors; Spark prunes with WindowGroupLimit.

    Output: (conv_id, match_id, cosine, rank).
    """
    from pyspark.sql import Window

    sym = scored.select(
        F.col("conv_id_a").alias("conv_id"),
        F.col("conv_id_b").alias("match_id"),
        "cosine",
    ).unionByName(
        scored.select(
            F.col("conv_id_b").alias("conv_id"),
            F.col("conv_id_a").alias("match_id"),
            "cosine",
        )
    )
    w = Window.partitionBy("conv_id").orderBy(F.desc("cosine"), F.asc("match_id"))
    return (
        sym.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
