"""Seeded benchmark inputs, written to parquet before anything is timed.

The engine only ever sees the files written here: the transcripts table
(plus the labeled pairs the benchmark scores F1 against) and the
streaming split of a default corpus. The contract queries read the
committed TPC-H-like tables under ``CONTRACT_TABLES``.
"""

from __future__ import annotations

import os

from address_match_recommend_spark.datagen import generate_corpus, write_corpus

#: generator parameters per workload (``datagen.generate_corpus`` keywords)
WORKLOADS = {
    # the default generator: 1-6 typo'd duplicates per entity, so most
    # scored pairs land in the Jaro-Winkler band [tau_lo, tau_hi)
    "batch_jw_heavy": dict(n_entities=200),
    # a wide vocabulary and one near-verbatim duplicate per entity: the
    # token stream and the blocking join carry the work, and the few
    # duplicates score >= tau_hi and skip Jaro-Winkler
    "batch_index_heavy": dict(
        n_entities=800, vocab_size=30_000, max_dups=1, token_sub_rate=0.01
    ),
}

#: the sf0.01 tier of the engine's TPC-H-like test tables (the tables the
#: twelve contract queries read), committed with the benchmark
CONTRACT_TABLES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")

_PQ = dict(index=False, coerce_timestamps="us", allow_truncated_timestamps=True)


def write_batch_input(workload: str, seed: int, out_dir: str) -> dict:
    """Generate the workload's corpus and write it under ``out_dir``.
    ``PERFBENCH_SCALE`` (default 1) scales the entity count; the smoke
    test runs at 0.1."""
    params = dict(WORKLOADS[workload])
    scale = float(os.environ.get("PERFBENCH_SCALE", "1"))
    params["n_entities"] = max(12, round(params["n_entities"] * scale))
    corpus = generate_corpus(seed=seed, **params)
    write_corpus(corpus, out_dir)
    return {
        "generator": params,
        "seed": seed,
        "entities": params["n_entities"],
        "conversations": int(corpus.transcripts["conv_id"].nunique()),
        "turns": len(corpus.transcripts),
        "transcripts": f"{out_dir}/transcripts.parquet",
        "labeled_pairs": f"{out_dir}/labeled_pairs.parquet",
    }


def write_stream_input(seed: int, out_dir: str) -> dict:
    """Split one default-generator corpus into a bootstrap base and one
    micro-batch. The batch mixes brand-new entities (the last fifth),
    near-duplicates of base entities (their last duplicate, every third
    entity) and exact duplicates of base texts."""
    corpus = generate_corpus(seed=seed, n_entities=60)
    tr, clusters = corpus.transcripts, corpus.expected_clusters
    entities = sorted(clusters["entity_id"].unique())
    n_new = len(entities) // 5
    members = clusters.groupby("entity_id")["conv_id"].apply(sorted)
    hashes = corpus.golden_canonical.set_index("conv_id")["text_hash"]

    held = set(clusters[clusters["entity_id"].isin(entities[-n_new:])]["conv_id"])
    for i, ent in enumerate(entities[:-n_new]):
        convs = members[ent]
        if i % 3 == 0 and len(convs) > 1:
            held.add(convs[-1])  # near (or exact) duplicate of a base conv
        elif i % 3 == 1:
            seen = set()
            for c in convs:  # exact duplicates: a text hash seen before
                if hashes[c] in seen:
                    held.add(c)
                seen.add(hashes[c])

    os.makedirs(out_dir, exist_ok=True)
    base = tr[~tr["conv_id"].isin(held)]
    base.to_parquet(f"{out_dir}/base.parquet", **_PQ)
    tr[tr["conv_id"].isin(held)].to_parquet(f"{out_dir}/batch.parquet", **_PQ)
    corpus.labeled_pairs.to_parquet(f"{out_dir}/labeled_pairs.parquet", **_PQ)
    return {
        "entities": 60,
        "base_conversations": int(base["conv_id"].nunique()),
        "streamed_conversations": len(held),
        "base": f"{out_dir}/base.parquet",
        "batch": f"{out_dir}/batch.parquet",
        "labeled_pairs": f"{out_dir}/labeled_pairs.parquet",
    }
