"""Deterministic synthetic transcript corpus (FIXTURES.md).

Mirrors the reference's fixture strategy — a raw-record corpus
(/root/reference/resource/test_addresses.txt) plus golden parse outputs
(/root/reference/resource/testdb_v0.sql:54+) — transposed to the transcript
payload: ground-truth entities each emitting a base conversation plus 1-6
perturbed duplicates, with planted exact duplicates (exercises the
hash-dedup stage, the analog of the reference Bloom path
/root/reference/core/similarity.go:55-61) and a super-hot token in ~30% of
conversations (exercises salting in the blocking join).

Everything is seeded numpy — no wall clock, no external data.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

import numpy as np
import pandas as pd

ROLES = np.array(["user", "assistant", "system", "tool"])
TOOLS = np.array(["search", "bash", "edit", "browse", "calc"])
HOT_TOKEN = "hotspot"

_EPOCH = datetime(2025, 1, 1, tzinfo=timezone.utc)


@dataclass
class Corpus:
    """All fixture tables as pandas DataFrames (FIXTURES.md §1-4)."""

    transcripts: pd.DataFrame  # conv_id, turn_idx, role, text, tool, ts
    expected_clusters: pd.DataFrame  # conv_id, entity_id
    labeled_pairs: pd.DataFrame  # conv_id_a, conv_id_b, label, blocking_key
    golden_canonical: pd.DataFrame  # conv_id, canonical_text, n_turns, text_hash


def _typo(token: str, rng: np.random.RandomState) -> str:
    """One-character mutation — Jaro-Winkler-recoverable."""
    if len(token) < 2:
        return token + "x"
    pos = int(rng.randint(0, len(token)))
    repl = chr(ord("a") + int(rng.randint(0, 26)))
    return token[:pos] + repl + token[pos + 1 :]


def _zipf_weights(vocab_size: int) -> np.ndarray:
    ranks = np.arange(1, vocab_size + 1, dtype=np.float64)
    w = 1.0 / ranks**1.1
    return w / w.sum()


def vocabulary(vocab_size: int = 4000) -> np.ndarray:
    """The generator's token vocabulary (Zipf rank order)."""
    return np.array([f"tok{i:05d}" for i in range(vocab_size)])


def generate_corpus(
    n_entities: int = 12,
    seed: int = 42,
    vocab_size: int = 4000,
    family_size: int = 4,
    hot_token_rate: float = 0.30,
    exact_dup_rate: float = 0.20,
    token_sub_rate: float = 0.06,
    max_dups: int = 6,
) -> Corpus:
    """Generate a labeled corpus of ``n_entities`` ground-truth clusters.

    Each entity: a base conversation of 3-20 turns over a Zipf vocabulary,
    3 entity-unique signature tokens (guarantee blocking recall), one
    family token shared across ``family_size`` entities (generates hard
    negatives that share a blocking key, per the north rule), then 1-6
    duplicate conversations with token typos/substitutions, turn
    insertions/deletions and role changes.
    """
    rng = np.random.RandomState(seed)
    vocab = vocabulary(vocab_size)
    weights = _zipf_weights(vocab_size)

    conv_rows: list[tuple] = []  # (conv_id, turn_idx, role, text, tool, ts)
    cluster_rows: list[tuple] = []  # (conv_id, entity_id)
    pair_rows: list[tuple] = []  # (a, b, label, blocking_key)
    canonical_rows: list[tuple] = []

    entity_convs: dict[int, list[str]] = {}
    entity_sig: dict[int, str] = {}
    family_entities: dict[int, list[int]] = {}
    next_conv = 0

    for ent in range(n_entities):
        family = ent // family_size
        family_entities.setdefault(family, []).append(ent)
        family_token = f"fam{family:04d}tok"
        sig_tokens = [f"ent{ent:05d}sig{j}" for j in range(3)]
        entity_sig[ent] = sig_tokens[0]

        # --- base conversation ---
        n_turns = int(rng.randint(3, 21))
        turn_lens = rng.randint(5, 31, size=n_turns)
        base_turns: list[list[str]] = [
            list(rng.choice(vocab, size=int(ln), p=weights)) for ln in turn_lens
        ]
        # plant signature + family tokens at deterministic positions
        for j, sig in enumerate(sig_tokens):
            t = j % n_turns
            base_turns[t].insert(min(1, len(base_turns[t])), sig)
        base_turns[0].insert(0, family_token)
        if rng.rand() < hot_token_rate:
            base_turns[int(rng.randint(0, n_turns))].append(HOT_TOKEN)
        base_roles = [
            "system" if t == 0 and rng.rand() < 0.3 else ("user" if t % 2 == 0 else "assistant")
            for t in range(n_turns)
        ]
        base_tools = [
            TOOLS[int(rng.randint(0, len(TOOLS)))] if r == "assistant" and rng.rand() < 0.2 else ""
            for r in base_roles
        ]

        n_dups = int(rng.randint(1, max_dups + 1))
        exact_first = rng.rand() < exact_dup_rate
        convs_of_entity: list[str] = []

        for dup in range(n_dups + 1):  # dup 0 is the base itself
            conv_id = f"conv_{next_conv:06d}"
            next_conv += 1
            convs_of_entity.append(conv_id)

            turns = [list(t) for t in base_turns]
            roles = list(base_roles)
            tools = list(base_tools)
            if dup > 0 and not (dup == 1 and exact_first):
                # token substitutions / typos
                for t_i, turn in enumerate(turns):
                    for k in range(len(turn)):
                        if rng.rand() < token_sub_rate:
                            tok = turn[k]
                            if tok.startswith(("ent", "fam")):
                                continue  # keep blocking tokens intact
                            turn[k] = (
                                _typo(tok, rng)
                                if rng.rand() < 0.5
                                else str(vocab[int(rng.randint(0, vocab_size))])
                            )
                # turn deletion
                if len(turns) > 3 and rng.rand() < 0.15:
                    di = int(rng.randint(1, len(turns)))
                    del turns[di], roles[di], tools[di]
                # turn insertion (short filler turn)
                if rng.rand() < 0.15:
                    ii = int(rng.randint(1, len(turns) + 1))
                    filler = list(rng.choice(vocab, size=4, p=weights))
                    turns.insert(ii, filler)
                    roles.insert(ii, "user" if ii % 2 == 0 else "assistant")
                    tools.insert(ii, "")
                # role change
                if rng.rand() < 0.10:
                    ri = int(rng.randint(0, len(roles)))
                    roles[ri] = str(ROLES[int(rng.randint(0, len(ROLES)))])

            base_ts = _EPOCH + timedelta(hours=ent, minutes=17 * dup)
            texts = [" ".join(turn) for turn in turns]
            for t_i, text in enumerate(texts):
                conv_rows.append(
                    (
                        conv_id,
                        t_i,
                        roles[t_i],
                        text,
                        str(tools[t_i]),
                        base_ts + timedelta(seconds=7 * t_i),
                    )
                )
            canonical = "\n".join(texts)
            canonical_rows.append(
                (
                    conv_id,
                    canonical,
                    len(texts),
                    hashlib.sha256(canonical.encode("utf-8")).hexdigest(),
                )
            )

        entity_id = min(convs_of_entity)
        for cid in convs_of_entity:
            cluster_rows.append((cid, entity_id))
        entity_convs[ent] = convs_of_entity

        # positive labeled pairs: all intra-cluster pairs, blocked on the
        # entity signature token
        for i in range(len(convs_of_entity)):
            for j in range(i + 1, len(convs_of_entity)):
                a, b = sorted((convs_of_entity[i], convs_of_entity[j]))
                pair_rows.append((a, b, True, sig_tokens[0]))

    # hard negatives: cross-entity pairs within a family (they share the
    # family token → same blocking key, different ground-truth cluster)
    for family, ents in sorted(family_entities.items()):
        family_token = f"fam{family:04d}tok"
        for i in range(len(ents)):
            for j in range(i + 1, len(ents)):
                a = entity_convs[ents[i]][0]
                b = entity_convs[ents[j]][0]
                a, b = sorted((a, b))
                pair_rows.append((a, b, False, family_token))

    transcripts = pd.DataFrame(
        conv_rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    transcripts["turn_idx"] = transcripts["turn_idx"].astype("int32")
    transcripts["ts"] = pd.to_datetime(transcripts["ts"], utc=True).dt.tz_localize(None)
    expected = pd.DataFrame(cluster_rows, columns=["conv_id", "entity_id"])
    pairs = pd.DataFrame(
        pair_rows, columns=["conv_id_a", "conv_id_b", "label", "blocking_key"]
    )
    golden = pd.DataFrame(
        canonical_rows, columns=["conv_id", "canonical_text", "n_turns", "text_hash"]
    )
    golden["n_turns"] = golden["n_turns"].astype("int32")
    return Corpus(transcripts, expected, pairs, golden)


TRANSCRIPTS_DDL = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)


def corpus_to_spark(spark, corpus: Corpus):
    """Return dict of Spark DataFrames with the input_hint schema."""
    return {
        "transcripts": spark.createDataFrame(corpus.transcripts, schema=TRANSCRIPTS_DDL),
        "expected_clusters": spark.createDataFrame(
            corpus.expected_clusters, schema="conv_id string, entity_id string"
        ),
        "labeled_pairs": spark.createDataFrame(
            corpus.labeled_pairs,
            schema="conv_id_a string, conv_id_b string, label boolean, blocking_key string",
        ),
        "golden_canonical": spark.createDataFrame(
            corpus.golden_canonical,
            schema="conv_id string, canonical_text string, n_turns int, text_hash string",
        ),
    }


def write_corpus(corpus: Corpus, out_dir: str) -> None:
    """Persist all fixture tables as parquet (one file each)."""
    import os

    os.makedirs(out_dir, exist_ok=True)
    # microsecond timestamps: Spark cannot read pandas' nanosecond default
    kw = dict(index=False, coerce_timestamps="us", allow_truncated_timestamps=True)
    # The transcripts table is written as a DIRECTORY of part files so the
    # scan parallelizes: pandas' default is one file with one row group,
    # and Spark assigns byte-range splits per file (a 36 MB single file is
    # ONE task under the 128 MB maxPartitionBytes regardless of row
    # groups) — a 1M-turn fixture became a single-task scan at any
    # parallelism. Production transcript tables have millions of splits;
    # a multi-file fixture is the faithful small-scale proxy. Chunk
    # boundaries respect conv_id grouping only by row order (rows within
    # a conversation are contiguous in the generator's output), which is
    # irrelevant for correctness — every consumer shuffles by conv_id.
    tdir = f"{out_dir}/transcripts.parquet"
    if os.path.isfile(tdir):
        os.remove(tdir)
    else:
        # Clear stale part files: regenerating a SMALLER corpus into the
        # same out_dir would otherwise silently mix old part-NNNNN files
        # with new ones (ADVICE r3).
        import shutil

        shutil.rmtree(tdir, ignore_errors=True)
    os.makedirs(tdir, exist_ok=True)
    tr = corpus.transcripts
    n_files = min(32, max(1, len(tr) // 32_768))
    chunk = (len(tr) + n_files - 1) // n_files
    for i in range(n_files):
        tr.iloc[i * chunk : (i + 1) * chunk].to_parquet(
            f"{tdir}/part-{i:05d}.parquet", **kw
        )
    corpus.expected_clusters.to_parquet(f"{out_dir}/expected_clusters.parquet", **kw)
    corpus.labeled_pairs.to_parquet(f"{out_dir}/labeled_pairs.parquet", **kw)
    corpus.golden_canonical.to_parquet(f"{out_dir}/golden_canonical.parquet", **kw)
