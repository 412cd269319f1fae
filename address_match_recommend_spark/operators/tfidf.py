"""Stage 3 — corpus statistics: document frequency, IDF, TF-IDF vectors.

Analog of the reference's ``statInverseDocRefers`` (document-frequency
count, /root/reference/core/similarity.go:233-255) and IDF formula
(:342-364). We implement the *documented* math — true float division,
``idf = max(ln(N/(df+1)), 0)`` — not the reference's integer-division quirk
(:355, SURVEY §2.9), nor its fixed idf=2.0 for numeric/ANSI tokens
(:356-360). Unseen tokens get MissingIdf=4.0 (:19, ``cfg.missing_idf``)
in :func:`tfidf_vectors`.

Scale notes:
- The exploded token stream is the largest intermediate (~10² tokens per
  turn). :func:`token_counts` collapses it ONCE to (conv_id, token,
  tf_raw) rows; ``run_pipeline`` materializes that frame as its
  ``tokenize`` stage, and idf, vectors and postings all read it. Each
  consumer also accepts the raw stream (keyed on the ``tf_raw`` column)
  and then does the collapse itself.
- df over the counts is one groupBy on token (map-side combined): the
  counts are already unique on (conv_id, token), so no distinct runs.
  Over the raw stream it is distinct + groupBy — two shuffles.
- The IDF table is O(vocab) rows — broadcast to executors (north rule:
  "broadcast of the IDF dictionary"), never shuffled against the corpus.
- TF-IDF vectors are carried as ``map<token,double>`` per conversation,
  keys in sorted order (``array_sort`` before ``map_from_entries``), so
  the pair scorer joins once on conv_id and its Arrow pass receives each
  side's ``map_keys``/``map_values`` as sorted id runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..config import PipelineConfig


def token_counts(tokens: DataFrame) -> DataFrame:
    """(conv_id, token, tf_raw[, boost]) — the token stream collapsed to
    one row per (conversation, token), ``tf_raw`` its occurrence count.

    If ``tokens`` carries a ``boost`` column (structure-aware mode) it is
    kept: the boost is constant per (conv_id, token), so max() is exact.
    """
    aggs = [F.count(F.lit(1)).alias("tf_raw")]
    if "boost" in tokens.columns:
        aggs.append(F.max("boost").alias("boost"))
    # Hash-partitioning by conv_id satisfies the (conv_id, token)
    # aggregate's clustering (conv_id is a subset of its keys), and when
    # tfidf_vectors collapses a raw stream itself it also serves the
    # doc_len window and the per-conversation map build: one exchange
    # for that whole stage. The trade: this exchange moves raw token
    # rows without map-side combine, but tf is ≈1 for almost all
    # (conv, token) pairs, so the combined and raw volumes are nearly
    # identical.
    return tokens.repartition("conv_id").groupBy("conv_id", "token").agg(*aggs)


def conv_tokens(tokens: DataFrame) -> DataFrame:
    """(conv_id, token), one row per pair — what df and the postings
    count. A raw stream pays a distinct; a :func:`token_counts` frame is
    already unique on (conv_id, token) and is only projected."""
    pairs = tokens.select("conv_id", "token")
    return pairs if "tf_raw" in tokens.columns else pairs.distinct()


def document_frequency(tokens: DataFrame) -> DataFrame:
    """(token, df) — number of distinct conversations containing token.
    ``tokens`` is the raw stream or its :func:`token_counts`."""
    return conv_tokens(tokens).groupBy("token").agg(F.count(F.lit(1)).alias("df"))


def idf_table(
    tokens: DataFrame,
    n_docs: int,
    cfg: PipelineConfig | None = None,
) -> DataFrame:
    """(token, df, idf) — the pure corpus statistic, the documented TF-IDF
    semantics (README.md:77-83)."""
    cfg = cfg or PipelineConfig()
    idf = F.greatest(
        F.log(F.lit(float(n_docs)) / (F.col("df") + F.lit(1.0))),
        F.lit(float(cfg.min_idf)),
    )
    return document_frequency(tokens).withColumn("idf", idf)


def tfidf_vectors(
    tokens: DataFrame,
    idf: DataFrame,
    cfg: PipelineConfig | None = None,
) -> DataFrame:
    """(conv_id, vec map<string,double>, norm double, n_tokens int).

    ``tokens`` is the raw stream or its :func:`token_counts`.

    Weight = tf · idf with tf = count/doc_len (cfg.use_tf), or idf-only
    (reference parity: the reference never computes true TF — SURVEY §2.4
    A6, /root/reference/core/similarity.go:494). ``norm`` is the L2 norm,
    kept for readers of the vectors; the pair scorer recomputes it in id
    order so its cosine is deterministic.

    The idf join is an equi-join against an O(vocab)-row table →
    broadcast hash join (north rule).

    If ``tokens`` carries a ``boost`` column (structure-aware mode,
    operators/structure.boost_weights — the reference's C14: weight =
    idf·boost, /root/reference/core/similarity.go:494,513-516), the
    weight is further multiplied by it.
    """
    cfg = cfg or PipelineConfig()
    has_boost = "boost" in tokens.columns
    # A materialized counts frame has lost its conv_id partitioning, so
    # the doc_len window below still plans one exchange over the counts.
    counts = tokens if "tf_raw" in tokens.columns else token_counts(tokens)
    # The IDF broadcast is a north-rule mandate ("broadcast of the IDF
    # dictionary"). Its size is O(vocab) — bounded in practice by the
    # token pattern (words, not ids) and by min-df pruning upstream; on a
    # corpus whose raw vocabulary outgrows executor memory, set
    # cfg.broadcast_idf=False and the hint is dropped — AQE then picks
    # broadcast vs shuffled join from runtime stats (VERDICT r4 #3).
    idf_side = idf.select("token", "idf")
    if cfg.broadcast_idf:
        idf_side = F.broadcast(idf_side)
    weighted = counts.join(idf_side, "token", "left")
    # unseen tokens (scoring a corpus against a previously-fit IDF table)
    weighted = weighted.withColumn(
        "idf", F.coalesce(F.col("idf"), F.lit(float(cfg.missing_idf)))
    )
    if cfg.use_tf:
        doc_len = F.sum("tf_raw").over(Window.partitionBy("conv_id"))
        weight = (F.col("tf_raw") / doc_len) * F.col("idf")
    else:
        weight = F.col("idf")
    if has_boost:
        weight = weight * F.col("boost")
    weighted = weighted.withColumn("w", weight.cast("double"))
    return weighted.groupBy("conv_id").agg(
        F.map_from_entries(F.array_sort(F.collect_list(F.struct("token", "w"))))
        .alias("vec"),
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("norm"),
        F.sum("tf_raw").cast("int").alias("n_tokens"),
    )
