"""The benchmark's arithmetic: key order, output checks, end-to-end metrics
from a run's timed executions, and per-layer metrics from its spans.

Everything here is pure Python over the harness's JSON records, so
`perfbench/tests` can check it without Spark.
"""
import random
import statistics
from collections import defaultdict

NS_PER_MS = 1e6
NS_PER_S = 1e9

# Every module of graft.ops that a workload runs; each gets
# ops.<Module>.construct_ms / execute_ms on every workload, 0 where unused.
MODULES = ["Streaming", "Text", "Similarity", "TextAnalysis", "MLPipeline",
           "Graph", "SetSort", "Scans", "Filters", "Scalars", "SqlShapes",
           "Joins", "Windows", "Aggs", "Events"]

COUNTER_METRICS = [
    ("driver.self_ms", "ms"),
    ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"), ("catalyst.queries", "count"),
    ("scheduler.jobs", "count"), ("scheduler.stages", "count"),
    ("scheduler.tasks", "count"), ("scheduler.job_ms", "ms"),
    ("scheduler.task_overhead_ms", "ms"),
    ("executor.run_ms", "ms"), ("executor.cpu_ms", "ms"),
    ("executor.gc_ms", "ms"), ("executor.busy_ratio", "ratio"),
    ("executor.peak_exec_mem_bytes", "bytes"),
    ("shuffle.write_bytes", "bytes"), ("shuffle.read_bytes", "bytes"),
    ("shuffle.fetch_wait_ms", "ms"), ("shuffle.write_ms", "ms"),
    ("spill.memory_bytes", "bytes"), ("spill.disk_bytes", "bytes"),
    ("storage.persisted_bytes", "bytes"), ("storage.blocks_written", "count"),
    ("io.input_bytes", "bytes"), ("io.output_bytes", "bytes"),
    ("io.output_records", "count"), ("result.rows", "count"),
    ("streaming.batches", "count"), ("streaming.add_batch_ms", "ms"),
    ("streaming.query_planning_ms", "ms"), ("streaming.offset_ms", "ms"),
    ("streaming.commit_ms", "ms"), ("streaming.state_rows", "count"),
    ("streaming.state_commit_ms", "ms"),
    ("jvm.jit_ms", "ms"), ("jvm.classes_loaded", "count"), ("jvm.gc_ms", "ms"),
]
COLD_PREFIXES = ("jvm.", "catalyst.", "driver.self_ms")


def layer_metric_units():
    """Name -> unit of every per-layer metric, in report order."""
    units = {}
    for m in MODULES:
        units[f"ops.{m}.construct_ms"] = "ms"
        units[f"ops.{m}.execute_ms"] = "ms"
    units.update(COUNTER_METRICS)
    for name, unit in list(units.items()):
        if name.startswith(COLD_PREFIXES) or name.endswith(".construct_ms"):
            units["cold." + name] = unit
    units["trace.overhead_ms"] = "ms"
    return units


# ---------------------------------------------------------------- key order

def pass_orders(keys, seed, passes):
    """The key order of each pass. The cold pass runs the keys in the order
    listed, as a scheduled pipeline job would; each warm pass shuffles them
    with a generator seeded by `seed`."""
    rng = random.Random(seed)
    orders = [list(keys)]
    for _ in range(passes - 1):
        order = list(keys)
        rng.shuffle(order)
        orders.append(order)
    return orders


# ------------------------------------------------------------- output check

def check_execution(q, references):
    """None when the execution is correct, else why it failed."""
    if "error" in q:
        return "error: " + q["error"]
    ref = references.get(q["key"])
    if ref is None:
        return "no reference output"
    if q["schema"] != ref["schema"]:
        return f"schema {q['schema']} != {ref['schema']}"
    if ref["check"] == "digest":
        if q["digest"] != ref["digest"]:
            return f"digest {q['digest']} != {ref['digest']}"
    elif q["rows"] != ref["rows"]:
        return f"rows {q['rows']} != {ref['rows']}"
    return None


def query_ns(q):
    """Construction plus execution: the only timed region of a query."""
    return q["end_ns"] - q["start_ns"]




class Check:
    """The output check of a run. A pass with a failed execution is left out
    of `cold` and `warm`, so a failure never reads as a fast pass; it counts
    in `failed` instead."""

    def __init__(self, result, references):
        self.attempted = self.failed = 0
        self.failures = []
        clean = []
        for p in result["passes"]:
            bad = [(q["key"], why) for q in p["queries"]
                   for why in [check_execution(q, references)] if why]
            self.attempted += len(p["queries"])
            self.failed += len(bad)
            self.failures += [(p["index"], k, why) for k, why in bad]
            if not bad:
                clean.append(p)
        self.cold = [p for p in clean if p["kind"] == "cold"]
        self.warm = [p for p in clean if p["kind"] == "warm" and not p["traced"]]


def pass_s(p):
    """Seconds in the timed regions of a pass's queries."""
    return sum(query_ns(q) for q in p["queries"]) / NS_PER_S


def warm_pass_s(passes):
    """One warm pass: the sum over keys of each key's median time across
    the given passes, so one stalled execution does not set the figure."""
    times = defaultdict(list)
    for p in passes:
        for q in p["queries"]:
            times[q["key"]].append(query_ns(q))
    return sum(statistics.median(t) for t in times.values()) / NS_PER_S


def peak_heap_mb(passes):
    """The median over passes of each pass's peak heap occupancy after a
    collection; passes in which no collection ran tell nothing."""
    peaks = [p["peak_live_heap_bytes"] for p in passes if p["peak_live_heap_bytes"]]
    return statistics.median(peaks) / 2**20 if peaks else None


def end_to_end(result, check):
    """End-to-end metrics of an untraced run."""
    return {
        "setup_s": (result["setup_ns"] / NS_PER_S, "s"),
        "cold_s": (pass_s(check.cold[0]) if check.cold else None, "s"),
        "warm_s": (warm_pass_s(check.warm) if check.warm else None, "s"),
        "peak_live_heap_mb": (peak_heap_mb(check.warm), "MB"),
    }


# ---------------------------------------------------------------- per layer

def union_ns(intervals):
    """Total length covered by the union of [start, end) intervals."""
    total = 0
    cur_start = cur_end = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_ns(span, children):
    """A span's duration minus the part of it its children cover."""
    s, e = span["start_ns"], span["end_ns"]
    clipped = [(max(s, c["start_ns"]), min(e, c["end_ns"])) for c in children]
    return (e - s) - union_ns(clipped)


def pass_layers(pass_span, spans, cores):
    """Per-layer metrics of one traced pass."""
    by_kind = defaultdict(list)
    for r in spans:
        by_kind[r["kind"]].append(r)
    queries = {q["id"]: q for q in by_kind["query"] if q["parent"] == pass_span["id"]}
    jobs = [j for j in by_kind["job"] if j["parent"] in queries]
    job_query = {j["id"]: j["parent"] for j in jobs}
    stages = [s for s in by_kind["stage"]
              if job_query.get(s["parent"], s.get("query")) in queries]
    qes = {x["id"]: x for x in by_kind["qe"] if x["parent"] in queries}
    phases = [ph for ph in by_kind["phase"] if ph["parent"] in qes]
    batches = [b for b in by_kind["batch"] if b["parent"] in queries]
    blocks = [b for b in by_kind["blocks"] if b["parent"] in queries]
    parts = defaultdict(dict)
    for r in by_kind["construct"] + by_kind["execute"]:
        if r["parent"] in queries:
            parts[r["parent"]][r["kind"]] = r["end_ns"] - r["start_ns"]

    out = defaultdict(float)
    for m in MODULES:
        out[f"ops.{m}.construct_ms"] = 0.0
        out[f"ops.{m}.execute_ms"] = 0.0
    jobs_of = defaultdict(list)
    for j in jobs:
        jobs_of[j["parent"]].append(j)
    job_ns = 0
    for qid, q in queries.items():
        m = q["module"]
        out[f"ops.{m}.construct_ms"] += parts[qid].get("construct", 0) / NS_PER_MS
        out[f"ops.{m}.execute_ms"] += parts[qid].get("execute", 0) / NS_PER_MS
        out["driver.self_ms"] += self_ns(q, jobs_of[qid]) / NS_PER_MS
        job_ns += (q["end_ns"] - q["start_ns"]) - self_ns(q, jobs_of[qid])
    for ph in phases:
        out[f"catalyst.{ph['name']}_ms"] += (ph["end_ns"] - ph["start_ns"]) / NS_PER_MS
    out["catalyst.queries"] = len(qes)
    out["scheduler.jobs"] = len(jobs)
    out["scheduler.stages"] = len(stages)
    out["scheduler.job_ms"] = job_ns / NS_PER_MS
    for s in stages:
        out["scheduler.tasks"] += s["tasks"]
        out["scheduler.task_overhead_ms"] += s["overhead_ms"]
        out["executor.run_ms"] += s["run_ms"]
        out["executor.cpu_ms"] += s["cpu_ns"] / NS_PER_MS
        out["executor.gc_ms"] += s["gc_ms"]
        out["executor.peak_exec_mem_bytes"] = max(
            out["executor.peak_exec_mem_bytes"], s["peak_exec_mem_bytes"])
        out["shuffle.write_bytes"] += s["shuffle_write_bytes"]
        out["shuffle.read_bytes"] += s["shuffle_read_bytes"]
        out["shuffle.fetch_wait_ms"] += s["fetch_wait_ms"]
        out["shuffle.write_ms"] += s["shuffle_write_ns"] / NS_PER_MS
        out["spill.memory_bytes"] += s["spill_memory_bytes"]
        out["spill.disk_bytes"] += s["spill_disk_bytes"]
        out["io.input_bytes"] += s["input_bytes"]
        out["io.output_bytes"] += s["output_bytes"]
        out["io.output_records"] += s["output_records"]
    busy = out["scheduler.job_ms"] * cores
    out["executor.busy_ratio"] = out["executor.run_ms"] / busy if busy else 0.0
    for b in blocks:
        out["storage.persisted_bytes"] += b["persisted_bytes"]
        out["storage.blocks_written"] += b["blocks_written"]
    out["result.rows"] = sum(q["rows"] for q in queries.values())
    out["streaming.batches"] = len(batches)
    for b in batches:
        for f in ("add_batch_ms", "query_planning_ms", "offset_ms", "commit_ms",
                  "state_rows", "state_commit_ms"):
            out[f"streaming.{f}"] += b[f]
    for f in ("jit_ms", "classes_loaded", "gc_ms"):
        out[f"jvm.{f}"] = pass_span[f]
    return out


def per_layer(result, spans):
    """Per-layer metrics of a traced run: the cold pass under `cold.`, the
    rest as the median over the traced warm passes, and the tracing
    overhead as traced minus untraced warm pass time."""
    pass_spans = sorted((r for r in spans if r["kind"] == "pass"),
                        key=lambda r: r["index"])
    cores = result["cores"]
    units = layer_metric_units()
    cold = [pass_layers(p, spans, cores) for p in pass_spans if p["name"] == "cold"]
    warm = [pass_layers(p, spans, cores) for p in pass_spans if p["name"] == "warm"]
    out = {}
    for name in units:
        if name.startswith("cold."):
            out[name] = cold[0][name[5:]] if cold else None
        elif name != "trace.overhead_ms":
            out[name] = statistics.median(w[name] for w in warm) if warm else None

    # Each traced warm pass against the mean of the untraced warm passes on
    # either side of it, so the warm-up drift of the passes cancels.
    by_index = {p["index"]: p for p in result["passes"] if p["kind"] == "warm"}
    diffs = [pass_s(p) - (pass_s(by_index[i - 1]) + pass_s(by_index[i + 1])) / 2
             for i, p in by_index.items()
             if p["traced"] and i - 1 in by_index and i + 1 in by_index
             and not by_index[i - 1]["traced"] and not by_index[i + 1]["traced"]]
    out["trace.overhead_ms"] = statistics.median(diffs) * 1000 if diffs else None
    return {k: (v, units[k]) for k, v in out.items()}
