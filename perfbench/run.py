#!/usr/bin/env python3
"""Pipeline benchmark: times graft's `Pipeline.run` (what `graft.Main`
runs) and the north-rule read queries from outside the program, in child
JVMs started with the session settings `graft.Main` uses, and checks every
output against an independent DuckDB reference.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`; the line before it records
the box, the samples behind each metric and any check failures. See
perfbench/README.md for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import layers  # noqa: E402
import reference  # noqa: E402

# job: what one timed sample is, each in a fresh JVM: one `Pipeline.run`,
# or one cycle of the six read queries. A run takes samples until --seconds
# of timed work have passed; every launch is also a set-up sample, and
# set-up-only launches follow until there are SETUP_SAMPLES of them.
WORKLOADS = {
    "daily_short": "pipeline",
    "backfill_hourly": "pipeline",
    "long_text_hot": "pipeline",
    "sink_queries": "queries",
}
SETUP_SAMPLES = 3
# Child JVM heap, fixed (-Xms = -Xmx, as Spark's standalone executors are
# launched): with a growing heap, peak RSS followed G1's resize decisions and
# varied by ±20 % between identical runs.
HEAP = "3g"
RUN_DEADLINE_S = 170
BUILD_TIMEOUT_S = 840

# graft's build.sbt javaOptions: what `sbt run` passes to a forked JVM,
# with the heap below.
JAVA_OPTS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", f"-Xms{HEAP}", f"-Xmx{HEAP}"]

END_TO_END = {
    "routed_turns_per_s": "1/s", "setup_s": "s", "peak_rss_mb": "MB",
    "peak_heap_mb": "MB", "cpu_s_per_mturn": "s", "sink_bytes_per_turn": "B", "query_p50_s": "s",
    "query_p90_s": "s",
}


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

BUILD_INPUTS = ["build.sbt", "project/build.properties", "src/main",
                "perfbench/harness/build.sbt", "perfbench/harness/project/build.properties",
                "perfbench/harness/src"]


def source_stamp(root):
    h = hashlib.sha256()
    for rel in BUILD_INPUTS:
        path = os.path.join(root, rel)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root):
    """Compiles the program and the harness from source (sbt), once per
    source state; returns the runtime classpath."""
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        raise BenchError("program sources (build.sbt, src/main/scala) not found; "
                         "run from the repository root")
    out = os.path.join(HERE, ".build")
    os.makedirs(out, exist_ok=True)
    stamp = source_stamp(root)
    cp_file, stamp_file = os.path.join(out, "classpath.txt"), os.path.join(out, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log("building program and harness with sbt")
    t0 = time.monotonic()
    with open(os.path.join(out, "build.log"), "w") as lf:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=os.path.join(HERE, "harness"), env=env, stdout=subprocess.PIPE,
                           stderr=lf, stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    lines = r.stdout.decode(errors="replace").splitlines()
    cps = [l for l in lines if l.startswith("/") and "classes" in l]
    if r.returncode != 0 or not cps:
        tail = "\n".join(lines[-15:])
        raise BenchError(f"build failed (exit {r.returncode}):\n{tail}")
    log(f"build done in {time.monotonic() - t0:.1f} s")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


# ---------------------------------------------------------------- child JVMs

def java_bin():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def run_child(cp, work, args, deadline):
    """Runs one harness JVM to completion. Returns (events, setup_s): the
    `PB` records it printed and the time from launch to its session being
    ready."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java_bin(), *JAVA_OPTS, f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           "-cp", cp, "perfbench.Harness", *args]
    events, setup_s = [], None
    t0 = time.monotonic()
    with open(os.path.join(work, "child.log"), "ab") as lf:
        p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=lf,
                             stdin=subprocess.DEVNULL)
        timer = threading.Timer(max(1.0, deadline - time.monotonic()), p.kill)
        timer.start()
        try:
            for line in p.stdout:
                if not line.startswith(b"PB "):
                    continue
                ev = json.loads(line[3:])
                if ev["kind"] == "ready":
                    setup_s = time.monotonic() - t0
                events.append(ev)
            rc = p.wait()
        finally:
            timer.cancel()
            if p.poll() is None:
                p.kill()
            p.wait()
    if rc != 0 or setup_s is None or events[-1]["kind"] != "end":
        raise BenchError(f"harness {args[1]} exited {rc}; log in {work}/child.log")
    return events, setup_s


# ---------------------------------------------------------------- checks

def check_outputs(work, want):
    """Checks every Pipeline.run output left under `work`; returns
    (attempted, errors, facts by run id), deleting each output once checked."""
    attempted, errors, facts = 0, [], {}
    for manifest in sorted(glob.glob(os.path.join(work, "*", "_manifest"))):
        out = os.path.dirname(manifest)
        runs = [os.path.basename(p)[len("_metrics_"):-len(".json")]
                for p in glob.glob(os.path.join(manifest, "_metrics_*.json"))]
        attempted += 1
        if len(runs) != 1:
            errors.append(f"{os.path.basename(out)}: {len(runs)} metrics records")
            continue
        errs, fact = reference.check_pipeline_output(out, runs[0], want, work)
        errs += limiter_errors(fact["metrics"], want)
        errors += [f"{runs[0]}: {e}" for e in errs]
        facts[runs[0]] = fact
        shutil.rmtree(out)
    return attempted, errors, facts


def limiter_errors(metrics, want):
    if not metrics:
        return []
    rerouted, dropped = layers.limiter_counts(metrics)
    errs = []
    if rerouted != want["rerouted_rows"]:
        errs.append(f"rerouted rows {rerouted} != expected {want['rerouted_rows']}")
    if dropped != want["dropped_rows"]:
        errs.append(f"dropped rows {dropped} != expected {want['dropped_rows']}")
    return errs


# ---------------------------------------------------------------- box

def box_record(root, threads, ready, out_dir):
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    fs, best = "unknown", ""
    with open("/proc/mounts") as f:
        for line in f:
            parts = line.split()
            if len(parts) > 2 and out_dir.startswith(parts[1]) and len(parts[1]) > len(best):
                best, fs = parts[1], parts[2]
    commit = None
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                           text=True, timeout=10)
        commit = r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        pass
    return {"nproc": os.cpu_count(), "cpus_usable": threads, "mem_total_mb": mem_kb // 1024,
            "java": ready.get("java_version"), "spark": ready.get("spark_version"),
            "threads": ready.get("threads"), "master": ready.get("master"), "heap": HEAP,
            "output_fs": fs, "commit": commit, "source_sha256": source_stamp(root)}


# ---------------------------------------------------------------- metrics

def p90(xs):
    return statistics.quantiles(xs, n=10, method="inclusive")[8] if len(xs) > 1 else xs[0]


def memory_metrics(ends):
    """Medians over the sample JVMs' `end` records: peak RSS (VmHWM), and
    the most heap still in use after a GC."""
    return {"peak_rss_mb": statistics.median(e["vm_hwm_kb"] for e in ends) / 1024,
            "peak_heap_mb": statistics.median(e["heap_after_gc_peak_kb"] for e in ends) / 1024}


def pipeline_metrics(jobs, facts, setups, ends, want):
    """End-to-end metrics of cold `Pipeline.run` jobs, one per JVM."""
    routed = want["routed_rows"]
    walls = [j["wall_s"] for j in jobs]
    return {
        "routed_turns_per_s": statistics.median(routed / w for w in walls),
        "setup_s": statistics.median(setups),
        **memory_metrics(ends),
        "cpu_s_per_mturn": statistics.median(j["cpu_s"] / (routed / 1e6) for j in jobs),
        "sink_bytes_per_turn": statistics.median(
            facts[j["run_id"]]["sink_bytes"] / routed for j in jobs if j["run_id"] in facts),
        "query_p50_s": statistics.median(walls),
        "query_p90_s": p90(walls),
    }


def query_metrics(cycles, result_bytes, setups, ends, want):
    """End-to-end metrics of query cycles, one per fresh session."""
    routed = want["routed_rows"]
    lat = [w for c in cycles for w in c["queries"].values()]
    return {
        "routed_turns_per_s": statistics.median(routed / c["wall_s"] for c in cycles),
        "setup_s": statistics.median(setups),
        **memory_metrics(ends),
        "cpu_s_per_mturn": statistics.median(c["cpu_s"] / (routed / 1e6) for c in cycles),
        "sink_bytes_per_turn": result_bytes / routed,
        "query_p50_s": statistics.median(lat),
        "query_p90_s": p90(lat),
    }


# ---------------------------------------------------------------- runs

def timed_run(cp, w, spec, want, work, seconds, deadline, threads, prefix):
    """Untraced samples: fresh JVMs, each set-up plus one cold sample (a
    `Pipeline.run`, or one query cycle), until --seconds of sample time have
    passed; then set-up-only JVMs until there are SETUP_SAMPLES set-up
    samples. The first query JVM also writes the query results for the
    check, after its timed cycle."""
    job = WORKLOADS[w]
    common = ["--input", os.path.join(work, "input"), "--work", work,
              "--threads", str(threads), "--search-limit", str(spec["search_limit"]),
              "--fallback-limit", str(spec["fallback_limit"])]
    setups, runs, ends, threw = [], [], [], []
    while not setups or (not threw and sum(r["wall_s"] for r in runs) < seconds):
        n = len(setups)
        events, s = run_child(cp, work, ["--mode", job, *common, "--run-prefix", f"{prefix}-{n}",
                                         "--results", "1" if n == 0 else "0"], deadline)
        setups.append(s)
        ends.append(events[-1])
        runs += [e for e in events if e["kind"] in ("job", "cycle")]
        threw += [dict(e, run_id=e.get("run_id", f"cycle-{n}")) for e in events
                  if e["kind"] in ("job_failed", "cycle_failed")]
    while len(setups) < SETUP_SAMPLES:
        setups.append(run_child(cp, work, ["--mode", "setup", *common,
                                           "--run-prefix", prefix], deadline)[1])
    for e in threw:  # a partial output is not checked, the throw is the failure
        shutil.rmtree(os.path.join(work, e["run_id"]), ignore_errors=True)
    if job == "pipeline":
        attempted, errors, facts = check_outputs(work, want)
        metrics = pipeline_metrics(runs, facts, setups, ends, want)
        samples = {"job_wall_s": [j["wall_s"] for j in runs],
                   "job_cpu_s": [j["cpu_s"] for j in runs]}
    else:
        errors, size = reference.check_query_results(
            os.path.join(work, "input"), os.path.join(work, "results"), work)
        attempted = sum(len(c["queries"]) for c in runs) + len(reference_queries(work))
        metrics = query_metrics(runs, size, setups, ends, want)
        samples = {"cycle_wall_s": [c["wall_s"] for c in runs],
                   "query_wall_s": [c["queries"] for c in runs]}
    samples.update({"setup_s": setups, "vm_hwm_kb": [e["vm_hwm_kb"] for e in ends],
                    "heap_after_gc_peak_kb": [e["heap_after_gc_peak_kb"] for e in ends]})
    attempted += len(threw)
    errors += [f"{e['run_id']}: threw {e['error']}" for e in threw]
    return events[0], metrics, attempted, errors, samples


def reference_queries(work):
    with open(os.path.join(work, "results", "oracle_sql.json")) as f:
        return json.load(f)


def traced_run(cp, w, spec, want, work, threads, prefix, deadline):
    job = WORKLOADS[w]
    events, _ = run_child(cp, work, [
        "--mode", "trace", "--job", job, "--input", os.path.join(work, "input"),
        "--work", work, "--threads", str(threads),
        "--search-limit", str(spec["search_limit"]),
        "--fallback-limit", str(spec["fallback_limit"]), "--run-prefix", prefix], deadline)
    if job == "pipeline":
        attempted, errors, facts = check_outputs(work, want)
    else:
        errors, _ = reference.check_query_results(
            os.path.join(work, "input"), os.path.join(work, "results"), work)
        attempted, facts = len(reference_queries(work)), {}
    metrics, record, listener_errs = layers.per_layer(events, facts, want, threads, job)
    # one more check: the listener's record against Spark's status stores
    return events[0], metrics, attempted + 1, errors + listener_errs, record


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    deadline = time.monotonic() + RUN_DEADLINE_S
    root = os.getcwd()
    threads = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        cp = build(root)
        deadline = time.monotonic() + RUN_DEADLINE_S  # the build has its own limit
        shutil.rmtree(work, ignore_errors=True)
        spec = gen.write(args.workload, args.seed, os.path.join(work, "input"))
        want = reference.expected(os.path.join(work, "input"), spec["search_limit"],
                                  spec["fallback_limit"], work)
        # JSON-safe run ids: letters, digits and dashes only
        prefix = f"pb-{args.workload.replace('_', '-')}-{args.seed}"
        if args.trace:
            ready, metrics, attempted, errors, detail = traced_run(
                cp, args.workload, spec, want, work, threads, prefix, deadline)
            units = layers.UNITS
        else:
            ready, metrics, attempted, errors, detail = timed_run(
                cp, args.workload, spec, want, work, args.seconds, deadline, threads, prefix)
            units = END_TO_END
        failed = min(attempted, len({e.split(":")[0] for e in errors}))
        record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                  "box": box_record(root, threads, ready, work), "input": spec,
                  "failed_ratio": failed / max(1, attempted), "errors": errors[:20],
                  "detail": detail}
        print(json.dumps(record, sort_keys=True))
        out_metrics = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
        print(json.dumps({"correct": not errors, "attempted": attempted,
                          "failed": failed, "metrics": out_metrics}))
        return 0
    except (BenchError, subprocess.TimeoutExpired, OSError, ValueError, KeyError) as ex:
        log(f"error: {ex}")
        return 2
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
