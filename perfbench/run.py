#!/usr/bin/env python3
"""The graft benchmark: one workload, one seed, one timed run.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the program and the benchmark JVM from the checkout (once per
source state), generates the workload's inputs from the seed, runs the
workload's job in a closed loop for S seconds, checks every output, and
prints a report followed by one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer ones, and the run's spans are written to
``perfbench/.out/``. Exits non-zero when any output check fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import stats  # noqa: E402

BUILD_DIR = os.path.join(BENCH, ".build")
OUT_DIR = os.path.join(BENCH, ".out")
CATALOG_TABLES = os.path.join(BENCH, "data", "sf0.01")
WORKLOADS = ("wordcount", "curation", "xling_stream", "catalog_floor")
DEADLINE_S = 175      # the whole run, build excluded
END_TO_END = [("setup_s", "s"), ("job_s", "s"), ("records_per_s", "1/s"),
              ("step_p50_s", "s")]
ITEM_NAMES = {"wordcount": "lines", "curation": "docs",
              "xling_stream": "vectors", "catalog_floor": "queries"}


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project"), os.path.join(BENCH, "src")]
    for r in roots:
        if os.path.isfile(r):
            yield r
        for d, dirs, files in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for f in sorted(files):
                if f.endswith((".scala", ".sbt", ".properties", ".java")):
                    yield os.path.join(d, f)


def build():
    """Compiles the program and the benchmark with sbt unless the
    sources are unchanged since the last build; returns (classpath,
    JVM options) from the launch file the build writes."""
    h = hashlib.sha256()
    for p in source_files():
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    launch = os.path.join(BUILD_DIR, "launch.txt")
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    fresh = (os.path.exists(launch) and os.path.exists(stamp_file)
             and open(stamp_file).read() == stamp)
    if not fresh:
        os.makedirs(BUILD_DIR, exist_ok=True)
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
        with open(os.path.join(BUILD_DIR, "sbt.log"), "w") as log:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 "-Dsbt.server.autostart=false", "writeLaunch"],
                cwd=BENCH, env=env, stdout=log, stderr=subprocess.STDOUT,
                timeout=840).returncode
        if rc != 0:
            die(f"build failed (sbt exit {rc}); see {BUILD_DIR}/sbt.log", 4)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    cp, opts = None, []
    for line in open(launch).read().splitlines():
        k, _, v = line.partition("=")
        if k == "classpath":
            cp = v
        elif k == "jvmopt" and not v.startswith("-Xmx"):
            opts.append(v)
    return cp, opts


def heap_gb():
    """The Spark driver heap the repo's test command uses (half of RAM,
    2..8 GiB), capped at 4 GiB: the inputs are small."""
    try:
        kb = next(int(l.split()[1]) for l in open("/proc/meminfo")
                  if l.startswith("MemTotal:"))
        g = min(8, max(2, kb // 2097152))
    except (OSError, StopIteration):
        g = 2
    return min(g, 4)


def run_jvm(args, cp, opts, workload, inputs, work, cpus, remaining):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    cmd = (["java", f"-Xmx{heap_gb()}g", f"-Djava.io.tmpdir={work}/tmp"] + opts
           + ["-cp", cp, "graft.perfbench.Main",
              "--workload", workload, "--input", inputs, "--work", work,
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cpus", str(cpus),
              "--seed", str(args.seed)])
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        launched_ms = int(time.time() * 1000)
        p = subprocess.Popen(cmd + ["--launched-ms", str(launched_ms)],
                             cwd=work, env=env, stdout=log,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = p.wait(timeout=remaining)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    if rc not in (0, 3):  # 3: the warm-up job failed; the records say why
        with open(log_path, errors="replace") as f:
            tail = f.read()[-3000:]
        die(f"benchmark JVM failed ({rc}):\n{tail}", 3)
    with open(os.path.join(work, "records.jsonl")) as f:
        return [json.loads(l) for l in f if l.strip()]


def oracle_check(dump, work, remaining):
    """Compares the dumped catalog rows with DuckDB by the repo's own
    correctness gate, ``tools/check.py``; returns {query: reason} for
    every query it reports as FAIL."""
    try:
        p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"),
                            CATALOG_TABLES, dump], cwd=work, capture_output=True,
                           text=True, timeout=max(1, remaining))
    except subprocess.TimeoutExpired:
        die("tools/check.py timed out", 3)
    bad = {}
    for line in p.stdout.splitlines():
        if line.startswith("FAIL "):
            q, _, why = line[len("FAIL "):].partition(": ")
            bad[q] = why
    if p.returncode not in (0, 1) or (p.returncode == 1) != bool(bad):
        die(f"tools/check.py failed ({p.returncode}):\n{p.stderr[-3000:]}", 3)
    return bad


def fmt_summary(name, unit, s):
    if s["p50"] is None:
        return f"  {name:<16} no sample"
    t = s["tail"]
    tail = (f"p{t[0]:g}={t[1]:.4f} {unit}" if t
            else "none (fewer than 20 samples)")
    return f"  {name:<16} p50={s['p50']:.4f} {unit}  n={s['n']}  tail {tail}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die(f"no graft sources next to {BENCH}: run from a checkout of the repo")

    cp, opts = build()
    start = time.time()
    cpus = min(4, len(os.sched_getaffinity(0)))
    work = os.path.join(BENCH, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    phases = {}
    try:
        if args.workload == "catalog_floor":
            inputs = CATALOG_TABLES
        else:
            inputs = os.path.join(work, "input")
            os.makedirs(inputs)
            gen.GENERATORS[args.workload](args.seed, inputs)
        phases["generate_s"] = time.time() - start
        remaining = DEADLINE_S - (time.time() - start)
        t = time.time()
        records = run_jvm(args, cp, opts, args.workload, inputs, work, cpus,
                          remaining)
        phases["jvm_s"] = time.time() - t
        bad = {}
        if args.workload == "catalog_floor":
            t = time.time()
            bad = oracle_check(os.path.join(work, "catalog"), work,
                               DEADLINE_S - (time.time() - start))
            phases["oracle_s"] = time.time() - t
        meta = {}
        if args.workload != "catalog_floor":
            for line in open(os.path.join(inputs, "meta.properties")):
                k, _, v = line.strip().partition("=")
                meta[k] = v
    finally:
        shutil.rmtree(work, ignore_errors=True)
    report(args, records, bad, meta, cpus, phases)


def report(args, records, bad, meta, cpus, phases):
    w = args.workload
    items = next(r["items"] for r in records if r["kind"] == "meta")
    setups = [r["s"] for r in records if r["kind"] == "setup"]
    jobs = [r for r in records if r["kind"] == "job" and r["mode"] != "warmup"]
    if not setups:  # the warm-up failed: it is the one attempted operation
        jobs = [r for r in records if r["kind"] == "job"]
    plain = [j for j in jobs if j["mode"] == "plain"]
    acc = stats.accounting(w, jobs, bad)
    plain_acc = stats.accounting(w, plain, bad)
    peak = next(r["peak_rss_mb"] for r in records if r["kind"] == "end")
    correct = acc["failed"] == 0 and not bad and acc["attempted"] > 0

    print(f"perfbench {w} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} cpus={cpus} heap={heap_gb()}g")
    print(f"  input            {items} {ITEM_NAMES[w]}"
          + "".join(f", {k}={v}" for k, v in meta.items() if k not in ITEM_NAMES.values()))
    job_s = stats.summary(plain_acc["job_s"])
    step = stats.summary(plain_acc["step_s"])
    setup = stats.summary(setups)
    print(fmt_summary("setup_s", "s", setup))
    warm = [j for j in records if j["kind"] == "job" and j["mode"] == "warmup"]
    session = [r["s"] for r in records if r["kind"] == "session"]
    if warm and session:
        print(f"  inside setup_s   session built at {session[0]:.3f} s; warm-up job steps "
              f"{stats.job_seconds(warm[0]):.3f} s")
    print(fmt_summary("job_s", "s", job_s))
    if warm and w == "xling_stream":
        ex = warm[0]["extras"]
        touched = [f"batch {k[len('lists_touched_b'):]}: {int(v)} of {int(ex['lists_held'])}"
                   for k, v in ex.items() if k.startswith("lists_touched_b")]
        print("  prior IVF lists touched (warm-up job) " + ", ".join(touched))
    for kind, xs in sorted(plain_acc["steps"].items()):
        label = {"job": "job", "batch": "batch_s", "read": "read_s",
                 "compact": "compact_s", "query": "query_s"}[kind]
        if kind != "job":
            print(fmt_summary(label, "s", stats.summary(xs)))
    if w == "xling_stream" and plain_acc["last_step_s"]:
        print(f"  batch_last_s     p50={statistics.median(plain_acc['last_step_s']):.4f} s"
              f"  n={len(plain_acc['last_step_s'])} (final batch of each job)")
    rps = items / job_s["p50"] if job_s["p50"] else None
    if rps:
        print(f"  records_per_s    {rps:.2f} 1/s")
    print(f"  failed_frac      {acc['failed']}/{acc['attempted']} = "
          f"{acc['failed'] / max(1, acc['attempted']):.4f}")
    print(f"  peak_rss_mb      {peak:.1f} MB")
    print("  run phases       " + ", ".join(f"{k}={v:.2f}" for k, v in phases.items()))
    for j in jobs:
        for e in j["errors"]:
            print(f"  FAILED job {j['job']}: {e}")
    for q, why in sorted(bad.items()):
        print(f"  FAILED oracle {q}: {why}")

    if args.trace == 0:
        values = {"setup_s": setup["p50"], "job_s": job_s["p50"],
                  "records_per_s": rps, "step_p50_s": step["p50"]}
        metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END}
    else:
        metrics = traced_metrics(args, records, jobs, plain_acc, meta, cpus, peak, bad)
    print(json.dumps({"correct": correct, "attempted": acc["attempted"],
                      "failed": acc["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


def traced_metrics(args, records, jobs, plain_acc, meta, cpus, peak, bad):
    """Per-layer metrics: medians over the traced jobs of each job's
    roll-up, with the traced/plain job-time ratio as the overhead."""
    w = args.workload
    spans = [r for r in records if r["kind"] == "span"]
    traced_ok = [j for j in jobs if j["mode"] == "traced" and j["ok"]
                 and not any(s["name"] in bad for s in j["steps"])]
    input_bytes = (int(meta["vectors"]) * int(meta["dims"]) * 4
                   if w == "xling_stream" else 0)
    per_job = [stats.traced_job_metrics(j, [s for s in spans if s["job"] == j["job"]],
                                        cpus, input_bytes) for j in traced_ok]
    values = stats.median_of(per_job) if per_job else {}
    traced_s = [stats.job_seconds(j) for j in traced_ok]
    if traced_s and plain_acc["job_s"]:
        values["bench.trace_overhead_frac"] = (
            statistics.median(traced_s) / statistics.median(plain_acc["job_s"]) - 1)
    values["bench.peak_rss_mb"] = peak
    os.makedirs(OUT_DIR, exist_ok=True)
    run_id = f"{w}-seed{args.seed}-{int(time.time())}"
    with open(os.path.join(OUT_DIR, f"{w}-seed{args.seed}-spans.jsonl"), "w") as f:
        for s in spans:
            f.write(json.dumps(dict(s, run=run_id)) + "\n")
    if w == "curation" and traced_ok:
        print("  stages (traced job) " + curation_stages(
            [s for s in spans if s["job"] == traced_ok[0]["job"]], meta))
    print(f"  traced jobs      {len(traced_ok)}, plain jobs {len(plain_acc['job_s'])}; "
          f"spans in {os.path.relpath(OUT_DIR, ROOT)}/{w}-seed{args.seed}-spans.jsonl")
    return {n: {"value": values.get(n), "unit": u} for n, u in stats.per_layer_names()}


def curation_stages(spans, meta):
    """What each curation stage kept or found, from the row counts the
    traced job's materialized spans record, next to what was planted."""
    rows = {s["name"].split(".")[-1]: int(s["notes"].get("rows", 0)) for s in spans}
    docs = int(meta["docs"])
    out = [f"docs {docs}",
           f"exactDedup kept {rows['exactDedup']} (-{docs - rows['exactDedup']}, "
           f"planted {meta['exact_copies']})",
           f"minHashLshPairs {rows['minHashLshPairs']} pairs "
           f"(planted near copies {meta['near_copies']})",
           f"resolveDuplicates kept {rows['resolveDuplicates']} "
           f"(-{rows['exactDedup'] - rows['resolveDuplicates']})",
           f"removeContaminated kept {rows['removeContaminated']} "
           f"(-{rows['resolveDuplicates'] - rows['removeContaminated']}, "
           f"planted {meta['contaminated']})",
           f"tokenBudgetSelect kept {rows['tokenBudgetSelect']}"]
    return "; ".join(out)


if __name__ == "__main__":
    main()
