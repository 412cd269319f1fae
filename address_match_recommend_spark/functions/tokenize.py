"""Tokenization — the analog of the reference's segmenter interface
(/root/reference/segment/isegment.go:3-5) with two implementations, like the
reference's gse segmenter (/root/reference/segment/gse_segment.go:11-25) and
SimpleSegmenter fallback (/root/reference/segment/simple_segment.go:11-47).

The default path is **JVM-side** (``regexp_extract_all`` inside whole-stage
codegen — faster than any Python UDF); the dictionary segmenter, which
genuinely needs Python, is a vectorized Arrow pandas UDF (no per-row
Python).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T

from ..config import PipelineConfig

DEFAULT_TOKEN_PATTERN = r"[a-z0-9]+"


def tokenize_col(text: Column, cfg: PipelineConfig | None = None) -> Column:
    """Array-of-tokens column, fully JVM-side (codegen'd)."""
    cfg = cfg or PipelineConfig()
    col = F.lower(text) if cfg.lowercase else text
    toks = F.regexp_extract_all(col, F.lit(cfg.token_pattern), 0)
    if cfg.min_token_len > 1:
        toks = F.filter(toks, lambda t: F.length(t) >= cfg.min_token_len)
    if cfg.stopwords:
        stop = F.array(*[F.lit(s) for s in cfg.stopwords])
        toks = F.filter(toks, lambda t: ~F.array_contains(stop, t))
    return toks


def explode_tokens(
    conversations: DataFrame,
    cfg: PipelineConfig | None = None,
    text_col: str = "canonical_text",
    id_col: str = "conv_id",
) -> DataFrame:
    """(conv_id, pos, token) — positions kept for density-style features
    (reference A5, /root/reference/core/similarity.go:467-483).

    With ``cfg.dictionary`` set, tokenization routes through the
    broadcast-trie longest-match segmenter (Arrow pandas UDF) instead of
    the JVM regex — the reference's gse-dictionary mode (C12)."""
    cfg = cfg or PipelineConfig()
    if cfg.dictionary:
        toks = make_dict_tokenize_udf(conversations.sparkSession, cfg)(
            F.col(text_col)
        )
    else:
        toks = tokenize_col(F.col(text_col), cfg)
    return conversations.select(
        id_col, F.posexplode(toks).alias("pos", "token")
    )


def make_dict_tokenize_udf(spark, cfg: PipelineConfig | None = None):
    """Dictionary segmenter — the full C12 analog of the reference's gse
    segmenter loaded with community/region dictionaries
    (/root/reference/segment/gse_segment.go:11-25): greedy longest-match
    segmentation against a term dictionary, with the regex tokenizer as
    the between-hits fallback (reference C13 SimpleSegmenter,
    segment/simple_segment.go:11-47).

    Execution shape mirrors functions/dictmatch.py (J4/C5): the trie is
    built once on the driver from ``cfg.dictionary`` and broadcast;
    matching runs inside an Arrow-batched pandas UDF (vectorized per the
    input_hint — dictionary segmentation is inherently positional, not
    relational). Semantics: scan left to right; at each position consume
    the LONGEST dictionary entry (greedy, so 青岛市|南区 wins over
    青岛|市南区 when both 青岛市 and 青岛 are entries — same trade-off
    as the reference's longest-first alias ordering, models/region.go:
    53-87); characters between hits accumulate and are tokenized by the
    regex fallback, preserving overall left-to-right token order.
    Case-insensitive (entries and text lowered), like dictmatch.
    """
    import re

    from .dictmatch import build_trie

    cfg = cfg or PipelineConfig()
    pattern = re.compile(cfg.token_pattern)
    stop = set(cfg.stopwords)
    min_len = cfg.min_token_len
    lower = cfg.lowercase
    bc = spark.sparkContext.broadcast(build_trie(list(cfg.dictionary)))

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def dict_tokenize_udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        trie = bc.value

        def segment(text: str) -> list[str]:
            low = text.lower() if lower else text
            out: list[str] = []
            span_start = 0  # start of the pending regex-fallback span

            def flush(lo: int, hi: int) -> None:
                if hi > lo:
                    out.extend(
                        t
                        for t in pattern.findall(low[lo:hi])
                        if len(t) >= min_len and t not in stop
                    )

            i = 0
            while i < len(low):
                hit = trie.longest_match(low, i)
                if hit is None:
                    i += 1
                    continue
                end, _ = hit
                flush(span_start, i)
                out.append(low[i:end])
                i = span_start = end
            flush(span_start, len(low))
            return out

        for s in batches:
            yield s.fillna("").map(segment)

    return dict_tokenize_udf
