#!/usr/bin/env python3
"""Benchmark of the record-linkage engine, end to end and layer by layer.

Run from the repository root::

    python3 perfbench/run.py --workload batch_jw_heavy --seed 1 --seconds 10 --trace 0

- ``--trace 0`` times ``run_pipeline`` on the workload's generated corpus,
  back to back for ``--seconds`` and at least twice, after one
  untimed warm-up execution, and prints the medians: the ``end_to_end``
  metrics of ``BENCHMARK.json``.
- ``--trace 1`` runs the pipeline once untimed, then once layer by layer
  (``layers.py``), and prints the ``per_layer`` metrics.

Every output is checked (F1 on the labeled pairs, one cluster row per
conversation, and in traced runs the streaming and contract-query
checks). The last stdout line is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it is a
report with the session, the input sizes and every sample.

Inputs, Spark's local dirs and temp files live in ``.perfbench_work/``
under the repository root, wiped before and after each run.
"""

import time

T_PROCESS = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
MIN_F1 = 0.99
#: timed executions per run at least, whatever ``--seconds`` says
MIN_EXECUTIONS = 2
#: traced runs: per-layer JVM CPU must sum to the status-store total ±10%
CPU_ATTRIBUTION_TOLERANCE = 0.10
PR_SET_CHILD_SUBREAPER = 36  # linux/prctl.h


def host_session() -> dict:
    """Session shape from this host: never a hard-coded core count or heap."""
    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return {
        "cores": cores,
        "heap_mb": int(mem_kb * 0.45 / 1024),
        "shuffle_partitions": 2 * cores,
        "local_dirs": os.path.join(WORK, "local"),
    }


def prepare_env(host: dict) -> None:
    """Point every scratch write of Spark, the JVM and Python into WORK.
    Must run before pyspark is imported."""
    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    for d in (host["local_dirs"], tmp):
        os.makedirs(d)
    os.environ["SPARK_LOCAL_DIRS"] = host["local_dirs"]
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_EXTRA_JAVA_OPTS"] = f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    # Python workers import the engine from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path[:0] = [ROOT, HERE]


def adopt_orphans() -> None:
    """Make this process the subreaper of every process it starts, so that
    one whose parent exits is re-parented here and can be waited for. The
    PySpark daemon needs this: the JVM sends it SIGTERM when the session
    stops, but exits without waiting for it and its workers to end."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def stop_spark() -> None:
    """Stop the session, then the JVM, then wait until every process this
    one started has ended, killing what is left after a grace period."""
    signal.signal(signal.SIGTERM, signal.SIG_IGN)  # finish cleaning up
    try:
        from pyspark import SparkContext
        from pyspark.sql import SparkSession

        try:
            active = SparkSession.getActiveSession()
            if active is not None:
                active.stop()
        finally:
            gateway = SparkContext._gateway
            if gateway is not None:
                gateway.shutdown()
                gateway.proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
    finally:
        reap_children()


def reap_children(grace_s: float = 60.0) -> None:
    """Wait for every child, and with ``adopt_orphans`` every descendant, to
    exit; after ``grace_s`` kill all that remain."""
    from sparkstats import process_tree

    deadline = time.monotonic() + grace_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return  # none left
        if pid:
            continue
        if time.monotonic() >= deadline:
            for p in process_tree(os.getpid())[1:]:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def summary(samples: list[float]) -> dict:
    """Median, plus the highest percentile with at least ten samples
    beyond it (none below eleven samples)."""
    xs = sorted(samples)
    out = {"n": len(xs), "p50": statistics.median(xs)}
    if len(xs) >= 11:
        k = len(xs) - 11  # index with exactly ten samples above it
        out[f"p{100 * (k + 1) / len(xs):.1f}"] = xs[k]
    return out


class Checks:
    """Operations attempted and failed; a failure is an exception or an
    output that fails its check."""

    def __init__(self):
        self.names: list[str] = []
        self.failures: list[str] = []

    @property
    def attempted(self) -> int:
        return len(self.names)

    def op(self, name: str, ok: bool, detail="") -> bool:
        self.names.append(name)
        if not ok:
            self.failures.append(f"{name}: {detail}")
        return ok

    def run(self, name: str, thunk):
        """Run one operation; an exception counts as a failed operation."""
        try:
            return thunk()
        except Exception as exc:  # the benchmark reports failures, it must not stop
            traceback.print_exc()
            self.op(name, False, f"{type(exc).__name__}: {exc}"[:300])
            return None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)
    if args.workload not in {w["name"] for w in declared["workloads"]}:
        ap.error(f"unknown workload {args.workload!r}")

    host = host_session()
    adopt_orphans()
    # a SIGTERM unwinds through the finally below like any other exit
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    prepare_env(host)
    try:
        report, checks, metrics = Bench(args, host).run()
    finally:
        stop_spark()
        shutil.rmtree(WORK, ignore_errors=True)

    wanted = declared["per_layer" if args.trace else "end_to_end"]
    out = {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in wanted}
    report["checks"] = checks.names
    report["failures"] = checks.failures
    print(json.dumps({"report": report}, default=str))
    print(json.dumps({
        "correct": not checks.failures,
        "attempted": checks.attempted,
        "failed": len(checks.failures),
        "metrics": out,
    }))
    return 0


class Bench:
    def __init__(self, args, host: dict):
        self.args, self.host = args, host
        self.checks = Checks()

    def run(self):
        from address_match_recommend_spark.config import PipelineConfig
        from address_match_recommend_spark.session import get_spark

        import inputs

        a = self.args
        t_gen, cpu_gen = time.monotonic(), time.process_time()
        self.data = inputs.write_batch_input(a.workload, a.seed, f"{WORK}/input/batch")
        gen_s, gen_cpu_s = time.monotonic() - t_gen, time.process_time() - cpu_gen
        timeline = {"imports": t_gen - T_PROCESS, "generate": gen_s}

        h = self.host
        self.spark = get_spark(
            app_name="perfbench",
            cores=h["cores"],
            shuffle_partitions=h["shuffle_partitions"],
            driver_memory=f"{h['heap_mb']}m",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        self.cfg = PipelineConfig(shuffle_partitions=h["shuffle_partitions"])
        from sparkstats import jvm_pid, tree_cpu_s

        self.pid = jvm_pid(self.spark)
        timeline["session"] = time.monotonic() - t_gen - gen_s
        # warm-up: codegen, JIT and the Python workers. One execution only:
        # a second costs ~10 s per run, which a full set of runs cannot
        # spare (README, "Run time").
        warm = self.op()
        setup_s = time.monotonic() - T_PROCESS - gen_s
        setup_cpu_s = time.process_time() - gen_cpu_s + tree_cpu_s(self.pid)
        timeline["warm_up"] = setup_s - timeline["imports"] - timeline["session"]

        report = {
            "workload": a.workload,
            "seed": a.seed,
            "session": {**h, "spark_version": self.spark.version},
            "input": {k: v for k, v in self.data.items() if not str(v).startswith(WORK)},
            "setup_s": setup_s,
            "setup_cpu_s": setup_cpu_s,
            "timeline_s": timeline,
        }
        t_run = time.monotonic()
        if a.trace:
            metrics = self.traced(report)
        else:
            metrics = self.timed(report)
            metrics["setup_s"] = setup_s
        self.check_clusters("warm-up", warm)
        timeline["measure_and_check"] = time.monotonic() - t_run
        return report, self.checks, metrics

    # -- the operation and its check ----------------------------------------

    def op(self):
        """Transcripts on disk -> fully materialized clusters."""
        from address_match_recommend_spark.plans.pipeline import run_pipeline
        from address_match_recommend_spark.sources.readers import read_transcripts_parquet

        tr = read_transcripts_parquet(self.spark, self.data["transcripts"])
        return run_pipeline(tr, self.cfg).clusters

    def f1(self, labeled_path: str, clusters) -> float:
        from address_match_recommend_spark.plans.evaluate import pairwise_f1

        return pairwise_f1(self.spark.read.parquet(labeled_path), clusters)["f1"]

    def check_clusters(self, name: str, clusters) -> float | None:
        from pyspark.sql import functions as F

        if clusters is None:
            return None
        f1 = self.f1(self.data["labeled_pairs"], clusters)
        rows, distinct = clusters.agg(F.count("*"), F.countDistinct("conv_id")).first()
        n = self.data["conversations"]
        self.checks.op(
            name,
            f1 >= MIN_F1 and rows == distinct == n,
            f"f1={f1:.4f} rows={rows} distinct={distinct} conversations={n}",
        )
        return f1

    # -- untraced: the end-to-end metrics -----------------------------------

    def timed(self, report: dict) -> dict:
        from sparkstats import StatusStore, in_window, peak_rss_gb, tree_cpu_s, worker_cpu_s

        store = StatusStore(self.spark)
        store.mark()
        ops = []
        t_window = time.monotonic()
        while True:
            py0, all0 = worker_cpu_s(self.pid), time.process_time() + tree_cpu_s(self.pid)
            start_ms, t0 = int(time.time() * 1000), time.monotonic()
            clusters = self.checks.run("er", self.op)
            wall = time.monotonic() - t0
            ops.append({
                "wall_s": wall,
                "start_ms": start_ms,
                "end_ms": int(time.time() * 1000),
                "py_cpu_s": worker_cpu_s(self.pid) - py0,
                "total_cpu_s": time.process_time() + tree_cpu_s(self.pid) - all0,
                "clusters": clusters,
            })
            if len(ops) >= MIN_EXECUTIONS and time.monotonic() - t_window >= self.args.seconds:
                break
        stages = store.take()
        rss = peak_rss_gb(self.pid)

        for i, o in enumerate(ops):
            cost = in_window(stages, o["start_ms"], o["end_ms"])
            o["cpu_s"] = cost.cpu_s + o["py_cpu_s"]
            o["shuffle_mb"] = cost.shuffle_write_mb
            o["failed_tasks"] = cost.failed_tasks
            o["f1"] = self.check_clusters(f"er[{i}]", o.pop("clusters"))
        done = [o for o in ops if o["f1"] is not None]
        if not done:
            raise RuntimeError("no operation completed: " + "; ".join(self.checks.failures))
        wall = statistics.median(o["wall_s"] for o in done)
        report["samples"] = {
            k: summary([o[k] for o in done]) | {"values": [o[k] for o in done]}
            for k in ("wall_s", "total_cpu_s", "cpu_s", "shuffle_mb", "f1")
        }
        report["failed_tasks"] = sum(o["failed_tasks"] for o in ops)
        report["peak_rss_gb"] = rss  # JVM and Python workers
        report["convs_per_s"] = self.data["conversations"] / wall
        return {
            "er_wall_s": wall,
            "er_f1": statistics.median(o["f1"] for o in done),
            "executor_cpu_s": statistics.median(o["cpu_s"] for o in done),
        }

    # -- traced: the per-layer metrics --------------------------------------

    def traced(self, report: dict) -> dict:
        import inputs
        import layers as tr

        t0 = time.monotonic()
        clusters = self.checks.run("er-untraced", self.op)
        untraced_s = time.monotonic() - t0
        self.check_clusters("er-untraced", clusters)

        # one more path per workload; the other path's metrics read 0
        stream = self.args.workload == "batch_jw_heavy"
        if stream:
            from address_match_recommend_spark.materialize import materialize
            from address_match_recommend_spark.sources.readers import read_transcripts_parquet

            data = inputs.write_stream_input(self.args.seed, f"{WORK}/input/stream")
            batch = materialize(
                read_transcripts_parquet(self.spark, data["batch"]), self.cfg, eager=True
            )
        else:
            # the value hashes, before the window: this pass also compiles
            # the queries, so the traced pass measures them warm
            self.check_entry(inputs.CONTRACT_TABLES)

        # the window: only layer calls run inside it
        tracer = tr.Tracer(self.spark, self.pid)
        tracer.begin()
        scored, clusters = tr.trace_batch(tracer, self.data["transcripts"], self.cfg)
        traced_s = sum(s.wall_s for s in tracer.spans)
        if stream:
            stream_clusters, state = tr.trace_stream(
                tracer, data, batch, f"{WORK}/state", self.cfg
            )
        else:
            tr.trace_entry(tracer, inputs.CONTRACT_TABLES)
            state = {"streaming.chain_len": 0, "streaming.state_mb_per_input_mb": 0.0}
        tracer.end()

        self.check_clusters("er-traced", clusters)
        if stream:
            self.check_stream(data, stream_clusters)
        metrics = (
            tr.layer_metrics(tracer, tr.funnel_counts(scored, clusters))
            | tr.stream_metrics(tracer)
            | state
            | tr.entry_metrics(tracer)
        )

        # every stage of the window must belong to a layer
        spans_cpu = sum(s.cost.cpu_s for s in tracer.spans)
        total_cpu = tracer.total.cpu_s
        self.checks.op(
            "cpu-attribution",
            abs(spans_cpu - total_cpu) <= CPU_ATTRIBUTION_TOLERANCE * total_cpu,
            f"layers {spans_cpu:.3f}s vs status store {total_cpu:.3f}s",
        )
        by_cpu = {k[: -len(".cpu_s")]: v for k, v in metrics.items()
                  if k.endswith(".cpu_s") and k[: -len(".cpu_s")] in tr.BATCH_LAYERS}
        front = sum(v for k, v in by_cpu.items() if k.startswith(("tokenize", "tfidf", "blocking")))
        report["separation"] = {
            "largest_layer_by_cpu": max(by_cpu, key=by_cpu.get),
            "tokenize+tfidf+blocking_cpu_s": front,
            "scoring_cpu_s": by_cpu["scoring"],
        }
        report["cpu_attribution"] = {"layers_jvm_cpu_s": spans_cpu, "status_store_cpu_s": total_cpu}
        report["spans"] = [
            {"name": s.name, "wall_s": s.wall_s, "cpu_s": s.cpu_s, "rows_out": s.rows_out}
            for s in tracer.spans
        ]
        report["failed_tasks"] = tracer.total.failed_tasks
        metrics["trace.overhead_s"] = traced_s - untraced_s
        return metrics

    def check_stream(self, data: dict, clusters) -> None:
        f1 = self.f1(data["labeled_pairs"], clusters)
        self.checks.op("stream-f1", f1 >= MIN_F1, f"f1={f1:.4f}")
        n = data["base_conversations"] + data["streamed_conversations"]
        rows = clusters.count()
        self.checks.op("stream-rows", rows == n, f"{rows} cluster rows for {n} conversations")

    def check_entry(self, tables: str) -> None:
        """Each contract query's value hash against its DuckDB oracle's."""
        import duckdb

        import __spark_entry__ as entry
        import layers as tr

        sys.path.insert(0, os.path.join(ROOT, "scripts"))
        from check_oracles import value_hash

        queries, oracles = entry.queries(), entry.oracle_sql()
        con = duckdb.connect()
        for t in ("documents", "embeddings", "nation", "customer", "orders", "lineitem", "events"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet')")
        for name in tr.CONTRACT_QUERIES:
            df = self.checks.run(f"entry.{name}", lambda: queries[name](self.spark, tables))
            if df is None:
                continue
            got = value_hash(df.columns, [tuple(r) for r in df.collect()])
            rel = con.execute(oracles[name])
            want = value_hash([d[0] for d in rel.description], rel.fetchall())
            self.checks.op(f"entry.{name}", got == want, "value hash differs from the DuckDB oracle")
        con.close()


if __name__ == "__main__":
    sys.exit(main())
