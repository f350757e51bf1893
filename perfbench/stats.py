"""Turns the benchmark JVM's records into metrics.

Records are the dicts the JVM writes to records.jsonl: ``setup``,
``job`` (with its timed steps) and ``span``. Everything here is a pure
function of them, so the rules are unit-tested in tests/test_stats.py.
"""
import math
import statistics

# The step kind whose latency is step_p50_s. Wordcount and curation are
# one-step jobs, so there the step is the job itself.
STEP_KIND = {"wordcount": "job", "curation": "job",
             "xling_stream": "batch", "catalog_floor": "query"}

# Where an operation is a step rather than a whole job (for attempted,
# failed and which samples count): the catalog's queries are
# independent, so one wrong query does not void the others.
OP_KIND = {"catalog_floor": "query"}

PERCENTILE_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

LAYER_SPANS = {
    "core": ["text", "flatMapKV", "reduceByKeySorted", "saveAsKVText"],
    "functions": ["scrubPii", "qualityScore"],
    "operators": ["exactDedup", "minHashLshPairs", "resolveDuplicates",
                  "removeContaminated", "tokenBudgetSelect", "sequenceOffsets"],
    "streaming": ["ingestCrossLingualAnnStream", "crossLingualLists",
                  "crossLingualPairs", "compactCrossLingualState"],
    "queries": ["run"],
}
SPAN_COUNTERS = [("self_s", "s"), ("task_s", "s"),
                 ("shuffle_write_bytes", "B"), ("spill_bytes", "B")]
TOTALS = [("spark.jobs", "count"), ("spark.stages", "count"),
          ("spark.tasks", "count"), ("spark.gc_s", "s"),
          ("spark.core_util", "ratio"),
          ("core.combine_ratio", "ratio"), ("streaming.store_deltas", "count"),
          ("streaming.write_amp", "ratio"), ("queries.analyze_ms", "ms"),
          ("queries.optimize_ms", "ms"), ("queries.plan_ms", "ms"),
          ("bench.trace_overhead_frac", "ratio"), ("bench.span_coverage", "ratio"),
          ("bench.peak_rss_mb", "MB")]
PHASES = {"analysis_ms": "queries.analyze_ms",
          "optimization_ms": "queries.optimize_ms",
          "planning_ms": "queries.plan_ms"}


def per_layer_names():
    """Every per-layer metric as (name, unit), in a fixed order."""
    out = [(f"{layer}.{call}.{c}", u)
           for layer, calls in LAYER_SPANS.items() for call in calls
           for c, u in SPAN_COUNTERS]
    return out + TOTALS


def tail(samples):
    """The highest percentile of the ladder with at least ten samples
    beyond it (nearest-rank), as (percentile, value), or None when even
    the median has fewer than ten beyond it."""
    s = sorted(samples)
    n = len(s)
    for p in PERCENTILE_LADDER:
        k = math.ceil(round(p * n / 100.0, 6))
        if k >= 1 and n - k >= 10:
            return p, s[k - 1]
    return None


def summary(samples):
    """Median, tail percentile and sample count of a timing."""
    return {"p50": statistics.median(samples) if samples else None,
            "tail": tail(samples), "n": len(samples)}


def job_seconds(job):
    """A job's time: the sum of its timed steps."""
    return sum(s["s"] for s in job["steps"])


def accounting(workload, jobs, bad_ops=()):
    """Attempted and failed operations of the measured jobs, and the
    samples that count. A failed operation gives no sample; a job with a
    failed operation gives no job sample. ``bad_ops`` names operations
    found wrong after the run (the catalog's oracle check), which fail
    every time they ran."""
    op = OP_KIND.get(workload)
    bad_ops = set(bad_ops)

    def step_ok(s):
        return s["ok"] and s["name"] not in bad_ops

    def job_ok(j):
        return j["ok"] and all(step_ok(s) for s in j["steps"])

    if op:
        ops = [s for j in jobs for s in j["steps"] if s["kind"] == op]
        attempted, failed = len(ops), sum(not step_ok(s) for s in ops)
    else:
        attempted, failed = len(jobs), sum(not job_ok(j) for j in jobs)
    good = [j for j in jobs if job_ok(j)]
    step_pool = [s for j in jobs for s in j["steps"]] if op else \
        [s for j in good for s in j["steps"]]
    kind = STEP_KIND[workload]
    return {
        "attempted": attempted,
        "failed": failed,
        "job_s": [job_seconds(j) for j in good],
        "step_s": [s["s"] for s in step_pool if s["kind"] == kind and step_ok(s)],
        "steps": {k: [s["s"] for s in step_pool if s["kind"] == k and step_ok(s)]
                  for k in {s["kind"] for s in step_pool}},
        "last_step_s": [[s for s in j["steps"] if s["kind"] == kind][-1]["s"]
                        for j in good if any(s["kind"] == kind for s in j["steps"])],
    }


def self_times(spans):
    """Self time of each span, by id: its duration minus the part of its
    interval that its children cover (their union, clipped to it)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        covered, cur_lo, cur_hi = 0, None, None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ns"]):
            a, b = max(lo, c["start_ns"]), min(hi, c["end_ns"])
            if a >= b:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo - covered) / 1e9
    return out


def rollup(spans):
    """Per span name, the sums over one job's spans of self time and the
    Spark counters, plus the summed notes."""
    selfs = self_times(spans)
    out = {}
    for s in spans:
        r = out.setdefault(s["name"], {"self_s": 0.0, "task_s": 0.0,
                                       "shuffle_write_bytes": 0,
                                       "shuffle_write_records": 0,
                                       "spill_bytes": 0, "output_bytes": 0,
                                       "jobs": 0, "stages": 0, "tasks": 0,
                                       "notes": {}})
        r["self_s"] += selfs[s["id"]]
        for k in ("task_s", "shuffle_write_bytes", "shuffle_write_records",
                  "spill_bytes", "output_bytes", "jobs", "stages", "tasks"):
            r[k] += s[k]
        for k, v in s.get("notes", {}).items():
            r["notes"][k] = r["notes"].get(k, 0.0) + v
    return out


def traced_job_metrics(job, spans, cpus, input_bytes):
    """Per-layer values of one traced job."""
    roll = rollup(spans)
    wall = job_seconds(job)
    m = {}
    for layer, calls in LAYER_SPANS.items():
        for call in calls:
            r = roll.get(f"{layer}.{call}")
            for c, _ in SPAN_COUNTERS:
                m[f"{layer}.{call}.{c}"] = r[c] if r else 0
    tot = {k: sum(r[k] for r in roll.values())
           for k in ("jobs", "stages", "tasks", "task_s", "output_bytes")}
    m["spark.jobs"] = tot["jobs"]
    m["spark.stages"] = tot["stages"]
    m["spark.tasks"] = tot["tasks"]
    m["spark.gc_s"] = job.get("gc_s", 0.0)
    m["spark.core_util"] = tot["task_s"] / (wall * cpus) if wall > 0 else 0.0
    fm, rb = roll.get("core.flatMapKV"), roll.get("core.reduceByKeySorted")
    m["core.combine_ratio"] = (rb["shuffle_write_records"] / fm["notes"]["rows"]
                               if fm and rb and fm["notes"].get("rows") else 0.0)
    m["streaming.store_deltas"] = job.get("extras", {}).get("store_deltas", 0)
    m["streaming.write_amp"] = (
        sum(r["output_bytes"] for n, r in roll.items() if n.startswith("streaming."))
        / input_bytes if input_bytes else 0.0)
    q = roll.get("queries.run")
    for note, name in PHASES.items():
        m[name] = q["notes"].get(note, 0.0) if q else 0.0
    top = sum(s["end_ns"] - s["start_ns"] for s in spans if s["parent"] == -1) / 1e9
    m["bench.span_coverage"] = top / wall if wall > 0 else 0.0
    return m


def median_of(dicts):
    """Per key, the median over a list of metric dicts."""
    keys = dicts[0].keys() if dicts else []
    return {k: statistics.median(d[k] for d in dicts) for k in keys}
