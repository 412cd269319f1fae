"""Jaro-Winkler similarity — the north rule's tie-breaker.

The reference has no string-distance function (its near-miss handling is
the road-number boost (1/⁴√(|Δ|+1))·2, /root/reference/core/similarity.go:
305-316); the north rule adds Jaro-Winkler for borderline pairs. It runs
a batch at a time (never row-at-a-time Python) inside the pair scorer's
Arrow pass (operators/scoring.py), on the borderline cosine band only.
That band is not small: on the default generator it holds most scored
pairs (SURVEY §11: 74% at 50k entities), so the batch kernel runs in time
linear in the prefix length.
"""

from __future__ import annotations

import numpy as np


def jaro_winkler(s1: str, s2: str, prefix_weight: float = 0.1) -> float:
    """Plain-Python Jaro-Winkler in [0, 1] (1 = identical)."""
    if s1 == s2:
        return 1.0
    len1, len2 = len(s1), len(s2)
    if len1 == 0 or len2 == 0:
        return 0.0
    match_window = max(len1, len2) // 2 - 1
    if match_window < 0:
        match_window = 0
    flags1 = np.zeros(len1, dtype=bool)
    flags2 = np.zeros(len2, dtype=bool)
    a1 = np.frombuffer(s1.encode("utf-32-le"), dtype=np.uint32)
    a2 = np.frombuffer(s2.encode("utf-32-le"), dtype=np.uint32)

    matches = 0
    for i in range(len1):
        lo = max(0, i - match_window)
        hi = min(len2, i + match_window + 1)
        window = a2[lo:hi]
        cand = np.nonzero((window == a1[i]) & ~flags2[lo:hi])[0]
        if cand.size:
            j = lo + int(cand[0])
            flags1[i] = True
            flags2[j] = True
            matches += 1
    if matches == 0:
        return 0.0

    m1 = a1[flags1]
    m2 = a2[flags2]
    transpositions = int(np.count_nonzero(m1 != m2)) // 2

    jaro = (
        matches / len1 + matches / len2 + (matches - transpositions) / matches
    ) / 3.0
    # common prefix, up to 4 chars
    prefix = 0
    for c1, c2 in zip(s1[:4], s2[:4]):
        if c1 != c2:
            break
        prefix += 1
    return jaro + prefix * prefix_weight * (1.0 - jaro)


def _codepoints(strs: "list[str]", lens: np.ndarray, width: int) -> np.ndarray:
    """(len(strs), width) uint32 code points, zero past each length."""
    out = np.zeros((len(strs), width), dtype=np.uint32)
    out[np.arange(width) < lens[:, None]] = np.frombuffer(
        "".join(strs).encode("utf-32-le"), dtype=np.uint32
    )
    return out


def jaro_winkler_batch(
    s1s: "list[str]", s2s: "list[str]", prefix_weight: float = 0.1
) -> np.ndarray:
    """Batch-vectorized Jaro-Winkler — exactly :func:`jaro_winkler` per
    row (pinned by a hypothesis equivalence test), in one pass over the
    positions of ``s1`` with every numpy op spanning the whole batch.

    The scalar loop scans a window of ~len/2 positions of ``s2`` for each
    position of ``s1``. The scan is unnecessary: the window floor
    ``max(0, i − w)`` never decreases, and a match always consumes the
    *first* unconsumed occurrence in the window. So each character's
    occurrences in ``s2`` are consumed in position order, and one counter
    per (row, char) replaces the scan. For ``s1[i] = c`` the candidate is
    the k-th occurrence of ``c``, where k = max(occurrences consumed,
    occurrences below the floor). It matches iff it lies below the window
    ceiling. Both counters only grow, so the pass is O(len) per row.

    8-bit batches (the common case for transcript prefixes) index the
    counters by row·256 + code point and keep uint8 arrays; other batches
    number the (row, char) pairs they hold first.

    Measured on 1,300 workload-like 512-char prefix pairs (same-entity
    pairs of a 200-entity ``generate_corpus``), one 4-vCPU core, numpy
    1.26: ~115 µs/pair, against ~730 µs for the window scan this pass
    replaced."""
    B = len(s1s)
    out = np.zeros(B, dtype=np.float64)
    if B == 0:
        return out
    l1 = np.fromiter((len(a) for a in s1s), dtype=np.int64, count=B)
    l2 = np.fromiter((len(b) for b in s2s), dtype=np.int64, count=B)
    eq = np.fromiter((a == b for a, b in zip(s1s, s2s)), dtype=bool, count=B)
    out[eq] = 1.0
    live = ~eq & (l1 > 0) & (l2 > 0)
    if not live.any():
        return out
    idx = np.nonzero(live)[0]
    n = idx.size
    L1 = l1[idx]
    L2 = l2[idx]
    Lmax1 = int(L1.max())
    Lmax2 = int(L2.max())
    A1 = _codepoints([s1s[i] for i in idx], L1, Lmax1)
    A2 = _codepoints([s2s[i] for i in idx], L2, Lmax2)
    # K1/K2: each position's group, one per (row, char), numbered in
    # (row, char) order. Past its length s2 is padded with a char no
    # position of s1 queries.
    rows = np.arange(n)
    pad2 = np.arange(Lmax2) >= L2[:, None]
    if max(int(A1.max()), int(A2.max())) < 255:
        A1 = A1.astype(np.uint8)
        A2 = A2.astype(np.uint8)
        C2 = np.where(pad2, np.uint8(255), A2)
        occ = np.argsort(C2, axis=1, kind="stable")  # a radix sort on uint8
        n_groups = n * 256
        K1 = rows[:, None] * 256 + A1
        K2 = rows[:, None] * 256 + C2
    else:
        # dense ids over the (row, char) pairs present: a row·alphabet
        # table would not fit a batch of wide-alphabet (e.g. CJK) text
        top = max(int(A1.max()), int(A2.max())) + 1
        keys = np.concatenate([
            (rows[:, None] * (top + 1) + A1).ravel(),
            (rows[:, None] * (top + 1) + np.where(pad2, top, A2)).ravel(),
        ])
        _, inv = np.unique(keys, return_inverse=True)
        n_groups = int(inv.max()) + 1
        K1 = inv[: A1.size].reshape(A1.shape)
        K2 = inv[A1.size :].reshape(A2.shape)
        occ = np.argsort(K2, axis=1, kind="stable")
    K1 = np.ascontiguousarray(K1.T)
    # occ[start[g] + k] is the column of group g's k-th occurrence in s2
    occ = occ.ravel()
    count = np.bincount(K2.ravel(), minlength=n_groups)
    start = np.cumsum(count) - count
    below = np.zeros(n_groups, dtype=np.int64)  # occurrences under the floor
    used = np.zeros(n_groups, dtype=np.int64)  # occurrences consumed
    w = np.maximum(np.maximum(L1, L2) // 2 - 1, 0)
    wmin = int(w.min())
    lmin1 = int(L1.min())
    flags1 = np.zeros((Lmax1, n), dtype=bool)
    flags2 = np.zeros((n, Lmax2), dtype=bool)
    for i in range(Lmax1):
        if i > wmin:  # position i − w − 1 falls below the floor
            p = i - w - 1
            r = rows[(p >= 0) & (p < Lmax2)]
            below[K2[r, p[r]]] += 1
        g = K1[i]
        k = np.maximum(used[g], below[g])
        ok = k < count[g]
        if i >= lmin1:
            ok &= i < L1
        r = rows[ok]
        j = occ[start[g[r]] + k[r]]
        hit = j <= i + w[r]
        r, j = r[hit], j[hit]
        used[g[r]] = k[r] + 1
        flags1[i, r] = True
        flags2[r, j] = True
    flags1 = flags1.T
    matches = flags1.sum(axis=1)
    has = matches > 0
    jaro = np.zeros(n, dtype=np.float64)
    if has.any():
        # matched chars in positional order, scattered by per-row rank
        mmax = int(matches.max())
        M1 = np.zeros((n, mmax), dtype=A1.dtype)
        M2 = np.zeros((n, mmax), dtype=A2.dtype)
        r1 = np.cumsum(flags1, axis=1) - 1
        r2 = np.cumsum(flags2, axis=1) - 1
        rr, cc = np.nonzero(flags1)
        M1[rr, r1[rr, cc]] = A1[rr, cc]
        rr, cc = np.nonzero(flags2)
        M2[rr, r2[rr, cc]] = A2[rr, cc]
        both = np.arange(mmax) < matches[:, None]
        trans = ((M1 != M2) & both).sum(axis=1) // 2
        m = matches.astype(np.float64)
        jaro = np.where(
            has,
            (m / L1 + m / L2 + (m - trans) / np.where(m > 0, m, 1)) / 3.0,
            0.0,
        )
    pmax = min(4, Lmax1, Lmax2)
    if pmax > 0:
        peq = (A1[:, :pmax] == A2[:, :pmax]) & (
            np.arange(pmax) < np.minimum(L1, L2)[:, None]
        )
        prefix = np.where(
            peq.all(axis=1), peq.sum(axis=1), peq.argmin(axis=1)
        ).astype(np.float64)
    else:
        prefix = np.zeros(n)
    out[idx] = np.where(has, jaro + prefix * prefix_weight * (1.0 - jaro), 0.0)
    return out
