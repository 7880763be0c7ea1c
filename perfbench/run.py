#!/usr/bin/env python3
"""Runs one benchmark run and prints its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness from source (reused while the sources
are unchanged), runs one closed-loop client JVM over the sf0.01 fixtures in
`perfbench/data`, checks every execution's output against
`perfbench/references.json`, and prints every metric by name and unit. The
last line of stdout is one JSON object: `correct`, `attempted`, `failed` and
`metrics` (end-to-end metrics with `--trace 0`, per-layer with `--trace 1`).
The full record, and with `--trace 1` the spans, stay in
`.bench_build/runs/` for `perfbench/compare.py`.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import metrics  # noqa: E402

ROOT = HERE.parent
BUILD_DIR = ROOT / ".bench_build"
DATA_DIR = HERE / "data" / "sf0.01"
JVM_TIMEOUT_S = 170
MAX_PASSES = 200


def load_json(path):
    with open(path) as f:
        return json.load(f)


def run_harness(classpath, keys, seed, seconds, trace, run_dir):
    """One harness JVM. Returns its result record and its spans."""
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    orders = run_dir / "orders.txt"
    orders.write_text("\n".join(",".join(o) for o in
                                metrics.pass_orders(keys, seed, MAX_PASSES)) + "\n")
    result_path, spans_path = run_dir / "result.json", run_dir / "spans.jsonl"
    cmd = build.java_command(ROOT, classpath, tmp) + [
        "perfbench.Harness", str(DATA_DIR), str(orders), str(seconds), str(trace),
        str(result_path), str(spans_path)]
    with open(run_dir / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, cwd=tmp, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError(f"harness exceeded {JVM_TIMEOUT_S} s; see {run_dir}/jvm.log")
    shutil.rmtree(tmp, ignore_errors=True)
    if rc != 0 or not result_path.is_file():
        raise RuntimeError(f"harness exited with {rc}; see {run_dir}/jvm.log")
    spans = []
    if trace:
        with open(spans_path) as f:
            spans = [json.loads(line) for line in f if line.strip()]
    return load_json(result_path), spans


def main(argv=None):
    workloads = load_json(HERE / "workloads.json")
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        classpath = build.build(ROOT, BUILD_DIR)
        references = load_json(HERE / "references.json")
        if not DATA_DIR.is_dir():
            raise build.BuildError(f"fixtures not found at {DATA_DIR}")
        run_dir = BUILD_DIR / "runs" / (
            f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}")
        result, spans = run_harness(classpath, workloads[args.workload],
                                    args.seed, args.seconds, args.trace, run_dir)
    except (build.BuildError, RuntimeError, OSError, ValueError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1

    check = metrics.Check(result, references)
    if args.trace:
        reported = metrics.per_layer(result, spans)
    else:
        reported = metrics.end_to_end(result, check)
    for index, key, why in check.failures:
        print(f"FAILED pass {index} {key}: {why}")
    print(f"output check: {check.attempted - check.failed}/{check.attempted} "
          f"executions match their reference outputs")
    print(f"warm passes: {len(check.warm)}, warm queries: "
          f"{sum(len(p['queries']) for p in check.warm)}")
    for name, (value, unit) in reported.items():
        print(f"{name} = {value} {unit}")
    line = {
        "correct": check.failed == 0,
        "attempted": check.attempted,
        "failed": check.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in reported.items()},
    }
    record = dict(line, workload=args.workload, seed=args.seed,
                  seconds=args.seconds, trace=args.trace)
    (run_dir / "record.json").write_text(json.dumps(record, indent=1) + "\n")
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
