#!/usr/bin/env python3
"""Benchmark entry point; run it from the repository root:

    python3 perfbench/run.py --workload logs_batch --seed 1 --seconds 10 --trace 0

Workloads: ``logs_batch`` and ``query_mix`` (listed in ``BENCHMARK.json``)
and ``stream_replay`` (runnable, but left out of ``BENCHMARK.json`` while the
streaming sessionizer fails its output check; see ``NOTES.md``). One invocation starts a Spark
session on ``local[nproc]`` with ``nproc`` shuffle partitions, generates the
workload's inputs from ``--seed``, warms up, runs operations one after
another (a closed loop with one client) for ``--seconds``, and checks the
outputs of one operation against references that do not use the engine.

``--trace 0`` prints every end-to-end metric; ``--trace 1`` is a separate
run that prints the per-layer metrics, writes spans to
``.bench_out/trace-<workload>-<seed>.json`` and, for ``logs_batch``, runs a
``local[1]`` baseline in a child process. The last line of stdout is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. The exit code
is 0 only when every output check passed and no operation failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "flink_realtime_sessionize_sample_spark"
OUT = os.path.join(ROOT, ".bench_out")
DEADLINE_S = 170  # every invocation must end within 180 s

END_TO_END = [("setup_s", "s"), ("run_s", "s"), ("events_per_s", "1/s"), ("peak_rss_mb", "MB")]
# stream_replay only: per data micro-batch triggerExecution
STREAM_END_TO_END = [("microbatch_ms_p50", "ms"), ("microbatch_ms_tail", "ms")]

STREAM_LAYER = [
    ("streaming.add_batch_ms", "ms"), ("streaming.wal_commit_ms", "ms"),
    ("streaming.commit_offsets_ms", "ms"), ("streaming.query_planning_ms", "ms"),
    ("streaming.state_update_ms", "ms"), ("streaming.state_commit_ms", "ms"),
    ("streaming.state_rows_total", "count"), ("streaming.state_memory_bytes", "bytes"),
    ("streaming.rows_dropped_by_watermark", "count"), ("streaming.sink_s", "s"),
]

QUERY_METRICS = [("build_s", "s"), ("plan_s", "s"), ("exec_s", "s"),
                 ("build_jobs", "count"), ("exec_jobs", "count"), ("exec_tasks", "count")]


def per_layer_metrics(queries) -> list[tuple[str, str]]:
    m = [
        ("session.start_s", "s"),
        ("sources.scan_s", "s"), ("sources.parse_s", "s"), ("sources.lines_in", "count"),
        ("sources.rows_out", "count"), ("sources.malformed_dropped", "count"),
        ("operators.sessionize.exchange_sort_s", "s"), ("operators.sessionize.kernel_s", "s"),
        ("operators.sessionize.aggregate_s", "s"), ("operators.sessionize.python_bytes", "bytes"),
        ("operators.sessionize.sessions_out", "count"), ("operators.sessionize.cap_sessions", "count"),
    ]
    m += [(f"plans.{k}", u) for k, u in QUERY_METRICS]
    m += [(f"plans.{k}.{q}", u) for q in queries for k, u in QUERY_METRICS]
    m += [("spark.executor_cpu_s", "s"), ("spark.executor_run_s", "s"), ("spark.gc_s", "s"),
          ("spark.shuffle_write_bytes", "bytes"), ("spark.shuffle_read_bytes", "bytes"),
          ("spark.spill_bytes", "bytes"), ("spark.peak_exec_memory_bytes", "bytes"),
          ("spark.accumulator_errors", "count"), ("spark.stage_metrics_share", "ratio"),
          ("spark.trusted", "bool"),
          ("trace.untraced_run_s", "s"), ("trace.traced_run_s", "s"), ("trace.overhead_s", "s"),
          ("trace.layer_self_sum_s", "s"), ("trace.layer_gap_s", "s"), ("baseline.local1_run_s", "s")]
    return m


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class Bench:
    def __init__(self, args, work: str, cap):
        from probes import Spans
        from workloads import WORKLOADS

        self.args, self.work, self.cap = args, work, cap
        self.w = WORKLOADS[args.workload](work, self.fail)
        self.spans = Spans(f"{args.workload}-{args.seed}-{os.getpid()}")
        self.spark = None
        self.failures: list[dict] = []
        self.attempted = 0
        self.t_start = time.perf_counter()

    # -- session layer ---------------------------------------------------
    def start_session(self):
        from flink_realtime_sessionize_sample_spark.session import get_spark

        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.local.dir": os.path.join(self.work, "local"),
        }
        if self.args.trace:
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = os.path.join(self.work, "eventlog")
            conf["spark.eventLog.compress"] = "false"
            conf["spark.eventLog.rolling.enabled"] = "false"
            os.makedirs(conf["spark.eventLog.dir"], exist_ok=True)
        n = self.args.cores
        self.spark = get_spark(app_name="perfbench", master=f"local[{n}]", shuffle_partitions=n, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("WARN")

    def shutdown(self) -> None:
        """Stop the session and the JVM it launched, and wait for both."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gw = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None

    def group(self, g: str) -> None:
        self.spark.sparkContext.setJobGroup(g, g)

    def fail(self, name: str, phase: str, exc: BaseException) -> None:
        rec = {"workload": self.args.workload, "name": name, "phase": phase,
               "exception": type(exc).__name__, "message": (str(exc).splitlines() or [""])[0][:300]}
        self.failures.append(rec)
        self.cap.say(f"perfbench: failed {rec}")

    # -- phases ----------------------------------------------------------
    def setup(self) -> dict:
        from workloads import timed

        with self.spans.span("setup"):
            with self.spans.span("session.get_spark"):
                session_s, _ = timed(self.start_session)
            with self.spans.span("generate"):
                gen_s, self.dims = timed(self.w.generate, self.args.seed)
            with self.spans.span("warmup"):
                self.group("warmup")
                warm_s, _ = timed(self.w.warmup, self.spark)
        return {"session_s": session_s, "generate_s": gen_s, "warmup_s": warm_s,
                "setup_s": session_s + gen_s + warm_s}

    def measure(self) -> dict:
        from probes import RssSampler, cpu_times, steal_share, tree_cpu_s

        ops = []
        cpu0 = cpu_times()
        jvm = self.spark.sparkContext._gateway.proc.pid
        self.group("measure")
        with self.spans.span("measure"), RssSampler(jvm) as rss:
            t_end = time.perf_counter() + self.args.seconds
            i = 0
            while True:
                i += 1
                c0 = tree_cpu_s(os.getpid())
                with self.spans.span("op", op=i):
                    if self.args.workload == "query_mix":  # failures are per query, inside the pass
                        r = self.w.op(self.spark)
                        self.attempted += r["units"]
                    else:
                        self.attempted += 1
                        try:
                            r = self.w.op(self.spark)
                        except Exception as e:  # recorded; the loop goes on
                            self.fail(self.args.workload, "op", e)
                            r = None
                if r is not None:
                    r["cpu_s"] = tree_cpu_s(os.getpid()) - c0
                    ops.append(r)
                if time.perf_counter() >= t_end:
                    break
        self.detail["cpu_steal_share"] = steal_share(cpu0, cpu_times())
        jvm_mb, workers_mb = rss.peak_mb()
        self.detail["peak_mb"] = {"jvm_hwm": jvm_mb, "python_workers": workers_mb}
        return {"ops": ops, "peak_rss_mb": jvm_mb + workers_mb}

    def check(self) -> tuple[bool, dict]:
        from workloads import QueryMix

        units = len(QueryMix.queries) if self.args.workload == "query_mix" else 1
        self.attempted += units
        with self.spans.span("check"):
            try:
                return True, self.w.check(self.spark)
            except Exception as e:  # a wrong result fails the invocation
                self.fail(self.args.workload, "check", e)
                return False, {"error": f"{type(e).__name__}: {e}"}

    def end_to_end(self, setup: dict, meas: dict) -> dict:
        from workloads import tail_value

        walls = [r["wall_s"] for r in meas["ops"] if r.get("wall_s")]
        cpus = [r["cpu_s"] for r in meas["ops"] if r.get("wall_s")]
        batches = [b for r in meas["ops"] for b in r["batch_ms"]]
        if not walls or not batches:
            return {}
        run_s = statistics.median(walls)
        tail, tail_at = tail_value(batches)
        self.detail["samples"] = {"ops": len(walls), "batches": len(batches), "tail_at": tail_at,
                                  "walls_s": walls, "cpu_s": cpus, "batch_ms": batches}
        e2e = {
            "setup_s": setup["setup_s"],
            "run_s": run_s,
            "cpu_s": statistics.median(cpus),
            "events_per_s": self.w.input_events() / run_s,
            "peak_rss_mb": meas["peak_rss_mb"],
        }
        if self.args.workload == "stream_replay":
            e2e.update(microbatch_ms_p50=statistics.median(batches), microbatch_ms_tail=tail)
        return e2e

    def traced(self, untraced_run_s: float | None) -> dict:
        import probes

        with self.spans.span("traced"):
            m = self.w.traced(self.spark, self.spans, self.group)
        if untraced_run_s is not None:
            m["trace.untraced_run_s"] = untraced_run_s
            m["trace.overhead_s"] = m["trace.traced_run_s"] - untraced_run_s
            if "trace.layer_self_sum_s" in m:
                m["trace.layer_gap_s"] = untraced_run_s - m["trace.layer_self_sum_s"]
        self.shutdown()  # flushes the event log
        groups = ["t:"] + list(getattr(self.w, "stream_groups", []))
        ev = probes.event_log_counters(os.path.join(self.work, "eventlog"), groups)
        errors = probes.count_in_file(self.cap.path, probes.ACCUM_ERROR)
        for k in ("executor_cpu_s", "executor_run_s", "gc_s", "shuffle_write_bytes", "shuffle_read_bytes",
                  "spill_bytes", "peak_exec_memory_bytes", "stage_metrics_share"):
            m[f"spark.{k}"] = ev[k]
        m["spark.accumulator_errors"] = errors
        m["spark.trusted"] = int(errors == 0 and ev["stage_metrics_share"] == 1.0)
        pg = getattr(self.w, "python_group", None)
        if pg:
            m["operators.sessionize.python_bytes"] = ev["python_bytes"].get(pg, 0)
        self.detail["event_log"] = {"stages": ev["stages"], "tasks": ev["tasks"]}
        if self.args.workload == "logs_batch":
            m["baseline.local1_run_s"] = self.local1_baseline()
        return m

    def local1_baseline(self) -> float:
        """``logs_batch`` at ``local[1]`` in a child process: one operation."""
        budget = DEADLINE_S - (time.perf_counter() - self.t_start)
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", "logs_batch",
               "--seed", str(self.args.seed), "--seconds", "0", "--trace", "0", "--cores", "1"]
        with self.spans.span("baseline.local1"):
            child = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, start_new_session=True)
            try:
                out, _ = child.communicate(timeout=max(budget, 1))
            except subprocess.TimeoutExpired:
                os.killpg(child.pid, signal.SIGKILL)
                child.communicate()
                self.detail["baseline_error"] = "timed out"
                return 0.0
        try:
            return json.loads(out.decode().strip().splitlines()[-1])["metrics"]["run_s"]["value"]
        except (IndexError, KeyError, ValueError):
            self.detail["baseline_error"] = f"exit {child.returncode}"
            return 0.0

    def run(self) -> dict:
        from workloads import QueryMix

        self.detail = {"workload": self.args.workload, "seed": self.args.seed, "cores": self.args.cores}
        with self.spans.span("workload", workload=self.args.workload):
            setup = self.setup()
            self.detail["setup"] = setup
            self.detail["dims"] = self.dims
            meas = self.measure()
            ok, self.detail["check"] = self.check()
            e2e = self.end_to_end(setup, meas)
            metrics = {}
            stream = self.args.workload == "stream_replay"
            if self.args.trace:
                names = per_layer_metrics(QueryMix.queries) + (STREAM_LAYER if stream else [])
                layer = {name: 0 for name, _ in names}
                layer["session.start_s"] = setup["session_s"]
                layer.update(self.traced(e2e.get("run_s")))
                metrics = {name: {"value": layer[name], "unit": unit} for name, unit in names}
            elif e2e:
                names = END_TO_END + (STREAM_END_TO_END if stream else [])
                metrics = {name: {"value": e2e[name], "unit": unit} for name, unit in names}
        failed = len(self.failures)
        self.detail["failures"] = self.failures
        self.detail["fail_share"] = failed / self.attempted
        self.detail["end_to_end"] = e2e
        correct = ok and failed == 0 and bool(metrics)
        return {"correct": correct, "attempted": self.attempted, "failed": failed, "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=nproc(), help="local[N] threads and shuffle partitions")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: the package {PKG} is not in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from probes import StderrCapture
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    tag = f"{args.workload}-{args.seed}-{'trace' if args.trace else 'run'}-c{args.cores}"
    work = os.path.join(OUT, f"{tag}-{os.getpid()}")
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # Python workers import the package from the checkout; every JVM and
    # Python temp file stays in it
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"

    cap = StderrCapture(os.path.join(work, "stderr.log"))
    bench = Bench(args, work, cap)
    result = None
    try:
        result = bench.run()
    except Exception:
        cap.say("perfbench: the run raised:\n" + traceback.format_exc())
    finally:
        try:
            bench.shutdown()
        finally:
            if result is None or not result["correct"]:
                cap.say("perfbench: last JVM/stderr lines:\n" + cap.tail())
            cap.restore()
    if result is None:
        shutil.rmtree(work, ignore_errors=True)
        return 1
    with open(os.path.join(OUT, f"{tag}.json"), "w") as f:
        json.dump(bench.detail, f, indent=1, default=float)
    if args.trace:
        bench.spans.write(os.path.join(OUT, f"trace-{args.workload}-{args.seed}.json"))
    shutil.rmtree(work, ignore_errors=True)

    d = bench.detail
    print(f"perfbench {args.workload} seed={args.seed} cores={args.cores} trace={args.trace}")
    print(f"  setup: session {d['setup']['session_s']:.3f} s + generate {d['setup']['generate_s']:.3f} s"
          f" + warmup {d['setup']['warmup_s']:.3f} s; dims {json.dumps(d['dims'])}")
    print(f"  check: {json.dumps(d['check'])}")
    print(f"  fail_share {d['fail_share']:.4f} ({result['failed']}/{result['attempted']}); failures {json.dumps(d['failures'])}")
    if "samples" in d:
        s = d["samples"]
        print(f"  samples: {s['ops']} ops, {s['batches']} batches, tail at {s['tail_at']}")
    for name, m in result["metrics"].items():
        print(f"  {name} = {m['value']} {m['unit']}")
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
