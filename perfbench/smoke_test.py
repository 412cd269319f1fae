"""Toy-size smoke test of the benchmark: every workload once untraced and
once traced, with a tenth of the entities. Asserts that every metric
``BENCHMARK.json`` declares is printed with its unit, and that the
correctness checks ran and passed. Takes a few minutes on 4 cores.

    python3 perfbench/smoke_test.py
"""

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: checks each run must have made (besides one per timed execution)
EXPECTED_CHECKS = {
    (0, "batch_jw_heavy"): {"warm-up", "er[0]", "er[1]"},
    (0, "batch_index_heavy"): {"warm-up", "er[0]", "er[1]"},
    (1, "batch_jw_heavy"): {
        "warm-up", "er-untraced", "er-traced", "stream-f1", "stream-rows",
        "cpu-attribution",
    },
    (1, "batch_index_heavy"): {
        "warm-up", "er-untraced", "er-traced", "cpu-attribution",
        "entry.tfidf_top1_similar", "entry.candidate_pairs", "entry.ngram_jaccard",
        "entry.minhash_lsh", "entry.simhash", "entry.ann_cosine_topk",
        "entry.token_counts", "entry.text_quality", "entry.pruned_agg",
        "entry.broadcast_dim_join", "entry.topk_orders", "entry.sessionize_events",
    },
}


def run(workload: str, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT,
        env=dict(os.environ, PERFBENCH_SCALE="0.1"),
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    *_, report_line, result_line = proc.stdout.strip().splitlines()
    return json.loads(report_line)["report"], json.loads(result_line)


def test_every_metric_printed_and_checked():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)
    for w in declared["workloads"]:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            report, result = run(w["name"], trace)
            assert set(result) == {"correct", "attempted", "failed", "metrics"}
            assert result["correct"] and result["failed"] == 0, report["failures"]
            assert result["attempted"] == len(report["checks"])
            assert EXPECTED_CHECKS[trace, w["name"]] <= set(report["checks"])
            want = {m["name"]: m["unit"] for m in declared[kind]}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            assert got == want
            for v in result["metrics"].values():
                assert isinstance(v["value"], (int, float))
            print(w["name"], kind, "ok", flush=True)


if __name__ == "__main__":
    test_every_metric_printed_and_checked()
