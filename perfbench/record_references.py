#!/usr/bin/env python3
"""Records the reference output of every workload key.

    python3 perfbench/record_references.py

Runs each workload's keys in two fresh harness JVMs (a cold pass and
two warm passes each) and writes `perfbench/references.json`. A key
whose digest repeats across all six executions is checked by digest;
one whose digest does not repeat falls back to its row count and schema,
and is listed under `check: "rows"`. Run it only on code whose outputs
were confirmed against the DuckDB oracle (`graft.Verify` + `tools/check.py`).
"""
import json
import sys

import run


def main():
    workloads = run.load_json(run.HERE / "workloads.json")
    classpath = run.build.build(run.ROOT, run.BUILD_DIR)
    seen = {}
    for attempt in range(2):
        for name, keys in workloads.items():
            run_dir = run.BUILD_DIR / "runs" / f"references-{name}-{attempt}"
            result, _ = run.run_harness(classpath, keys, attempt, 0, 0, run_dir)
            for q in (q for p in result["passes"] for q in p["queries"]):
                if "error" in q:
                    sys.exit(f"{q['key']} failed: {q['error']}")
                seen.setdefault(q["key"], []).append(q)
    references = {}
    for key, runs in sorted(seen.items()):
        shapes = {(q["schema"], q["rows"]) for q in runs}
        if len(shapes) != 1:
            sys.exit(f"{key}: schema or row count differs between runs: {shapes}")
        digests = {q["digest"] for q in runs}
        q = runs[0]
        references[key] = {"check": "digest" if len(digests) == 1 else "rows",
                           "schema": q["schema"], "rows": q["rows"],
                           "digest": q["digest"] if len(digests) == 1 else None}
        print(f"{key}: {references[key]['check']} ({len(digests)} distinct digests)")
    (run.HERE / "references.json").write_text(json.dumps(references, indent=1) + "\n")


if __name__ == "__main__":
    main()
