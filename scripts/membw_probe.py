"""Aggregate memory-STREAMING bandwidth at k concurrent processes.

A cache-resident busy loop answers "does CPU throughput scale k-wide?";
this probe answers the question that one cannot: does MEMORY bandwidth
scale k-wide? Each worker streams a 256 MiB numpy copy (far past LLC)
in a loop; the aggregate GB/s at k = 1, 2, 8 maps directly onto the
pipeline's byte-heavy stages — the token-stream shuffles (idf's
distinct, vectors' conv_id repartition, candidate_pairs' distinct) move
GBs through /dev/shm and the page cache, so their 2→8-core scaling is
bounded by THIS curve, not by CPU throughput.

Usage: python scripts/membw_probe.py [seconds_per_level]
Prints one JSON line: per-level aggregate GB/s and the 2→8 scaling
ratio of aggregate bandwidth (4.0 = bandwidth quadruples with cores;
1.0 = already saturated at 2).
"""

import json
import multiprocessing as mp
import sys
import time

import numpy as np

MB = 256  # per-worker array size in MiB — far past any LLC


def _worker(seconds: float, out):
    src = np.ones(MB * 1024 * 1024 // 8, dtype=np.int64)
    dst = np.empty_like(src)
    t_end = time.monotonic() + seconds
    n = 0
    while time.monotonic() < t_end:
        np.copyto(dst, src)
        n += 1
    # each copy reads src and writes dst: 2 × MB MiB of traffic
    out.put(n * 2 * MB / 1024.0)  # GiB moved


def level(k: int, seconds: float) -> float:
    q = mp.Queue()
    procs = [
        mp.Process(target=_worker, args=(seconds, q)) for _ in range(k)
    ]
    t0 = time.monotonic()
    for p in procs:
        p.start()
    moved = sum(q.get() for _ in procs)
    for p in procs:
        p.join()
    return moved / (time.monotonic() - t0)


if __name__ == "__main__":
    seconds = float(sys.argv[1]) if len(sys.argv) > 1 else 4.0
    out = {}
    for k in (1, 2, 8):
        out[f"gbps_{k}wide"] = round(level(k, seconds), 2)
    out["bw_scaling_2_to_8"] = round(out["gbps_8wide"] / out["gbps_2wide"], 3)
    print(json.dumps(out))
