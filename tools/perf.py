#!/usr/bin/env python3
"""Interleaved A/B of two checkouts on one perfbench workload.

    python3 tools/perf.py PARENT_DIR CHANGE_DIR --workload logs_batch --pairs 10

Runs ``perfbench/run.py --trace 0`` from each checkout for ``--pairs`` pairs,
pair ``i`` on seed ``--seed + i`` for both sides, alternating which side runs
first (a host that slows down during the session then weighs on both sides
alike). Every run lasts the parent's ``BENCHMARK.json`` ``run_seconds``.
Every run's end-to-end metrics are printed as it finishes. The summary gives,
for each end-to-end metric in the parent's ``BENCHMARK.json``, both sides'
medians and quartiles over the pairs where both runs succeeded, how many of
all pairs run the change won (ties and pairs with a failed run count for
neither) and two verdicts:

- ``gain``: the change won at least nine tenths of all pairs run, its median
  is better than the parent's by more than the parent's interquartile range,
  and it failed no more runs and no more operations than the parent;
- ``bound``: ``ok`` when the change's median is no worse than the parent's
  by more than the metric's relative ``bound``, ``EXCEEDED`` when it is
  worse, and ``unresolved`` when the parent's own interquartile range is
  wider than the bound, unless every change run beat every parent run.

A run that fails its output check or exits non-zero is reported and counted
as a failed run; its metrics are left out. The exit code is 0 only when no
run failed.

Plan capture and diff:

    python3 tools/perf.py plans CHECKOUT SF_DIR OUT.json
    python3 tools/perf.py plans --diff A.json B.json

The first form builds every registered query of CHECKOUT on the tables in
SF_DIR (the sf0.001 set the tests use) with ``SPARK_GRAFT_NO_MAT=1``, so
pins do not cut the lineage, and writes each
query's optimized logical plan to OUT.json with expression ids (``#123``,
``#123L``), RDD ids and the counters in lambda-variable and
common-subexpression names (``x_211``, ``_common_expr_11``) stripped. A
query whose build fails is recorded as ``ERROR <type>``. The second form
prints the name of every query whose text differs between two such files
(or is missing from one) and exits 1 if any does.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import tempfile


def run_once(checkout: str, workload: str, seed: int, seconds: float) -> dict | None:
    """One perfbench invocation; its result object, or None if it printed none."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-2000:] + proc.stderr[-2000:])
    try:
        return json.loads(lines[-1])
    except (IndexError, ValueError):
        return None


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def summarize(metric: dict, pairs: list[tuple[float, float]], pairs_run: int, no_more_failures: bool) -> str:
    """One line for one end-to-end metric over the complete (parent, change) pairs."""
    lower = metric["better"] == "lower"
    a = [p for p, _ in pairs]
    b = [c for _, c in pairs]
    (a1, am, a3), (b1, bm, b3) = quartiles(a), quartiles(b)
    wins = sum((c < p) if lower else (c > p) for p, c in pairs)
    gain = (am - bm) if lower else (bm - am)
    claim = wins >= 0.9 * pairs_run and gain > a3 - a1 and no_more_failures
    bound = metric.get("bound")
    all_better = (max(b) < min(a)) if lower else (min(b) > max(a))
    if bound is None or all_better:
        verdict = "ok"
    elif am and (a3 - a1) / abs(am) > bound:
        verdict = "unresolved"
    else:
        verdict = "ok" if (-gain / abs(am) if am else 0.0) <= bound else "EXCEEDED"
    return (f"{metric['name']:>14}: parent {am:.4g} [{a1:.4g}, {a3:.4g}]  change {bm:.4g} [{b1:.4g}, {b3:.4g}]"
            f"  ratio {bm / am if am else float('nan'):.3f}  wins {wins}/{pairs_run}"
            f"  gain={'yes' if claim else 'no'}  bound={verdict}")


_PLAN_IDS = re.compile(r"#\d+L?\b|(?<=RDD)\[\d+\]")
# Lambda variables and common subexpressions are named from per-process
# counters (``lambda x_211``, ``_common_expr_11``).
_LAMBDA_IDS = re.compile(r"(lambda \w+?|_common_expr)_\d+\b")


def normalize_plan(text: str) -> str:
    """Plan text without the ids that depend on what the process built before."""
    return _LAMBDA_IDS.sub(r"\1", _PLAN_IDS.sub("", text))


_CAPTURE = """
import json, os, sys
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[4]")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.debug.maxToStringFields", "100000")
         .config("spark.sql.warehouse.dir", sys.argv[3]).getOrCreate())
from flink_realtime_sessionize_sample_spark import plans
out = {}
for name, fn in plans.QUERIES.items():
    try:
        out[name] = fn(spark, sys.argv[1])._jdf.queryExecution().optimizedPlan().toString()
    except Exception as e:  # noqa: BLE001
        out[name] = "ERROR " + type(e).__name__
with open(sys.argv[2], "w") as f:
    json.dump(out, f)
"""


def capture_plans(checkout: str, sf_dir: str, out: str) -> int:
    """Write {query: optimized logical plan} of every query in ``checkout``."""
    env = dict(os.environ, SPARK_GRAFT_NO_MAT="1", PYTHONPATH=os.path.abspath(checkout))
    with tempfile.TemporaryDirectory() as tmp:
        raw = os.path.join(tmp, "raw.json")
        proc = subprocess.run([sys.executable, "-c", _CAPTURE, sf_dir, raw, os.path.join(tmp, "wh")],
                              cwd=tmp, env=env)
        if proc.returncode != 0:
            return proc.returncode
        with open(raw) as f:
            captured = json.load(f)
    with open(out, "w") as f:
        json.dump({k: normalize_plan(v) for k, v in captured.items()}, f, indent=1, sort_keys=True)
    errors = sorted(k for k, v in captured.items() if v.startswith("ERROR "))
    print(f"{len(captured)} plans written to {out}; build errors: {errors}")
    return 0


def diff_plans(a_path: str, b_path: str) -> int:
    """Print each query whose plan text differs between two capture files."""
    with open(a_path) as f:
        a = json.load(f)
    with open(b_path) as f:
        b = json.load(f)
    differ = sorted(n for n in set(a) | set(b) if a.get(n) != b.get(n))
    for name in differ:
        print(f"{name}: {'missing' if name not in a or name not in b else 'differs'}")
    print(f"{len(differ)} of {len(set(a) | set(b))} plans differ")
    return 1 if differ else 0


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if argv[:1] == ["plans"]:
        if len(argv) == 4 and argv[1] == "--diff":
            return diff_plans(argv[2], argv[3])
        if len(argv) == 4 and not argv[1].startswith("-"):
            return capture_plans(*argv[1:])
        sys.stderr.write(__doc__[__doc__.index("Plan capture"):])
        return 2
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent", help="checkout of the parent commit")
    ap.add_argument("change", help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1, help="seed of the first pair")
    args = ap.parse_args(argv)

    with open(os.path.join(args.parent, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = spec["run_seconds"]
    metrics = spec["end_to_end"]
    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}

    pairs: dict[str, list[tuple[float, float]]] = {m["name"]: [] for m in metrics}
    failed_runs = {"parent": 0, "change": 0}
    failed_ops = {"parent": 0, "change": 0}
    for i in range(args.pairs):
        seed = args.seed + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        got = {}
        for side in order:
            result = run_once(sides[side], args.workload, seed, seconds)
            failed_ops[side] += (result or {}).get("failed", 0)
            got[side] = result if result and result.get("correct") else None
            failed_runs[side] += got[side] is None
            values = {k: v["value"] for k, v in (got[side] or {}).get("metrics", {}).items()}
            print(f"pair {i + 1} seed {seed} {side}: "
                  + (json.dumps(values) if got[side] else "FAILED"), flush=True)
        if all(got.values()):
            for m in metrics:
                name = m["name"]
                pairs[name].append((got["parent"]["metrics"][name]["value"],
                                    got["change"]["metrics"][name]["value"]))

    print(f"{args.workload}: {args.pairs} pairs, {seconds:g} s each; failed runs "
          f"parent {failed_runs['parent']} change {failed_runs['change']}; failed operations "
          f"parent {failed_ops['parent']} change {failed_ops['change']}")
    no_more_failures = (failed_runs["change"] <= failed_runs["parent"]
                        and failed_ops["change"] <= failed_ops["parent"])
    for m in metrics:
        if pairs[m["name"]]:
            print(summarize(m, pairs[m["name"]], args.pairs, no_more_failures))
    return 0 if not any(failed_runs.values()) else 1


if __name__ == "__main__":
    sys.exit(main())
