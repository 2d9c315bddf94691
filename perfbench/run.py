#!/usr/bin/env python3
"""Benchmark of the graft query registry: one workload, one run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the harness and the
repository with sbt (offline); later runs reuse the build. The workload's
tables are the parquet files under perfbench/data/. The run itself is one
JVM with a single client (see `perfbench.Main`): set-up with the output
check, then timed passes over the workload's queries in an order drawn from
the seed. The last line of stdout is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones from the traced passes. The full record of the run (per-query
times, host load and steal before and after, spans, self times) goes to
perfbench/results/.

    python3 perfbench/run.py --workload NAME --write-reference

rebuilds perfbench/reference/NAME.json, the output digests every run is
checked against, from the current tree.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
WORK = os.path.join(HERE, "work")
RESULTS = os.path.join(HERE, "results")
# seconds a run may take beyond --seconds (set-ups, the passes' tail, exit)
DEADLINE_S = 160
JVM_MEMORY = "3g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]
REQUIRED = ["build.sbt", "src/main/scala/graft/SparkEntry.scala"]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_group(cmd, cwd, timeout, env=None, stdout=None):
    """Runs cmd in its own process group; kills the group on timeout or when
    this process is terminated, and waits for it, so nothing outlives the
    benchmark."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout,
                         stderr=subprocess.STDOUT, start_new_session=True)

    def kill(signum=None, frame=None):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        if signum is not None:
            sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, kill)
    try:
        p.wait(timeout=max(1, timeout))
    except subprocess.TimeoutExpired:
        kill()
        fail(f"{cmd[0]} did not finish within {timeout:.0f} s")
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_DFL)
    return p.returncode


def source_stamp():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                path = os.path.join(d, f)
                h.update(path[len(ROOT):].encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    for f in ("build.sbt", "project/build.properties", "perfbench/build.sbt",
              "perfbench/project/build.properties"):
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath(deadline):
    """Compiles the repository and the harness once per source state."""
    stamp_file = os.path.join(TARGET, "perfbench.stamp")
    cp_file = os.path.join(TARGET, "perfbench.classpath")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read()
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(TARGET, exist_ok=True)
    out_file = os.path.join(TARGET, "sbt.log")
    log("building with sbt (first run in this tree)")
    with open(out_file, "wb") as out:
        code = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "export Runtime/fullClasspath"], HERE,
                         deadline - time.time(), env, out)
    with open(out_file) as fh:
        lines = [l.strip() for l in fh if l.strip()]
    if code != 0 or not lines or ".jar" not in lines[-1]:
        fail(f"sbt build failed (exit {code}); see {out_file}")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return lines[-1]


def slots():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return min(4, n)


def run_jvm(cp, harness_args, out_json, deadline, log_name):
    """Runs perfbench.Main with its scratch space inside the checkout and the
    project's own tuning variables cleared; returns its result document."""
    tmp = os.path.join(WORK, f"tmp-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k != "SPARK_LOCAL_DIRS"}
    java = shutil.which("java") or fail("no java on PATH")
    cmd = [java, f"-Xmx{JVM_MEMORY}", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--slots", str(slots()), "--out", out_json]
    cmd += harness_args
    log_file = os.path.join(WORK, f"{log_name}.log")
    try:
        with open(log_file, "wb") as out:
            code = run_group(cmd, tmp, deadline - time.time(), env, out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if code != 0 or not os.path.exists(out_json):
        fail(f"benchmark JVM failed (exit {code}); see {log_file}")
    with open(out_json) as fh:
        return json.load(fh)


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def check_outputs(doc, reference):
    """The queries whose output in the set-up did not match the reference,
    each with the reason."""
    bad = {}
    for q in doc["queries"]:
        got = doc["check"][q]
        if "error" in got:
            bad[q] = "error: " + got["error"]
        elif reference.get(q) != got["digest"]:
            bad[q] = f"digest {got['digest']} != reference {reference.get(q)}"
    return bad


def end_to_end(doc):
    plain = [p for p in doc["passes"] if not p["traced"]]
    per_query = [median([sum(p["times"][q]) for p in plain]) for q in doc["queries"]]
    geo = math.exp(sum(math.log(max(t, 1e-9)) for t in per_query) / len(per_query))
    return {
        "setup_s": (doc["setup_s"], "s"),
        "pass_s": (median([p["pass_s"] for p in plain]), "s"),
        "query_geomean_s": (geo, "s"),
    }


def per_layer(doc, names):
    traced = [p for p in doc["passes"] if p["traced"]]
    plain = [p for p in doc["passes"] if not p["traced"]]

    def pass_sum(p, k):
        return sum(r.get(k, 0.0) for r in p["runs"].values())

    out = {}
    for name, unit in names:
        if name == "sched.task_parallelism":
            v = median([pass_sum(p, "sched.task_ms") / max(pass_sum(p, "sched.busy_ms"), 1e-9)
                        for p in traced])
        elif name == "sink.rows_out":
            v = sum(doc["check"][q].get("rows", 0) for q in doc["queries"])
        elif name == "storage.held_bytes_end":
            v = median([p["runs"][p["order"][-1]].get(name, 0.0) for p in traced])
        elif name in ("jvm.live_heap_mb", "jvm.cpu_s"):
            v = median([p[name[4:]] for p in traced])
        elif name == "trace.overhead_s":
            v = median([p["pass_s"] for p in traced]) - median([p["pass_s"] for p in plain])
        else:
            v = median([pass_sum(p, name) for p in traced])
        out[name] = (v, unit)
    return out


def trace_problems(doc):
    t = doc["trace"]
    problems = []
    if t["min_self_ms"] < 0:
        problems.append(f"negative self time {t['min_self_ms']} ms")
    if t["coverage"] < 0.99:
        problems.append(f"entry.build + sink.exec cover only {t['coverage']:.4f} "
                        "of the query spans")
    problems += [f"span overruns its parent: {o}" for o in t["overruns"]]
    problems += [f"span without its parent: {o}" for o in t["orphans"]]
    return problems


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--write-reference", action="store_true")
    args = ap.parse_args()
    deadline = time.time() + DEADLINE_S + args.seconds

    missing = [f for f in REQUIRED if not os.path.exists(os.path.join(ROOT, f))]
    if missing:
        fail(f"not a checkout of the repository: {', '.join(missing)} missing")
    with open(os.path.join(HERE, "workloads.json")) as fh:
        spec = json.load(fh)
    wl = spec["workloads"].get(args.workload) or fail(
        f"unknown workload {args.workload!r}; have {sorted(spec['workloads'])}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)

    data = os.path.join(HERE, wl["data"])
    cp = classpath(time.time() + 800)
    deadline = max(deadline, time.time() + DEADLINE_S - 20 + args.seconds)
    os.makedirs(RESULTS, exist_ok=True)
    if args.write_reference:
        args.seconds, args.trace = 0, 0
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    out_json = os.path.join(RESULTS, f"{name}.json")
    doc = run_jvm(cp, ["--workload", args.workload, "--seed", str(args.seed),
                       "--seconds", str(args.seconds), "--trace", str(args.trace),
                       "--data", data, "--queries", ",".join(wl["queries"])],
                 out_json, deadline, name)

    ref_file = os.path.join(HERE, "reference", f"{args.workload}.json")
    if args.write_reference:
        first = doc["check"]
        errors = {q: c["error"] for q, c in first.items() if "error" in c}
        if errors:
            fail(f"cannot pin a reference, queries failed: {errors}")
        os.makedirs(os.path.dirname(ref_file), exist_ok=True)
        with open(ref_file, "w") as fh:
            json.dump({q: first[q]["digest"] for q in doc["queries"]}, fh, indent=1,
                      sort_keys=True)
            fh.write("\n")
        log(f"wrote {ref_file}")
        return

    with open(ref_file) as fh:
        reference = json.load(fh)
    wrong = check_outputs(doc, reference)
    for q, why in wrong.items():
        log(f"WRONG {q}: {why}")
    passes = doc["warmup"] + doc["passes"]
    attempted = sum(p["attempted"] for p in passes) + len(doc["queries"])
    failed = sum(p["failed"] for p in passes) + sum("error" in c for c in doc["check"].values())
    problems = trace_problems(doc) if args.trace else []
    for p in problems:
        log(f"TRACE {p}")
    if args.trace and doc["trace"]["unattributed_events"]:
        log(f"TRACE events left out of the per-layer counts, no job tag: "
            f"{doc['trace']['unattributed_events']}")

    if args.trace:
        metrics = per_layer(doc, [(m["name"], m["unit"]) for m in bench["per_layer"]])
    else:
        metrics = end_to_end(doc)
    host = doc["host"]
    log(f"host load {host['before']['loadavg']} -> {host['after']['loadavg']}, "
        f"steal {host['before']['steal']} -> {host['after']['steal']}; "
        f"{len(doc['passes'])} passes; full record in {out_json}")
    # the two correctness ratios are 0 on a healthy tree, so they are not
    # bounded metrics; they print here and decide "correct" below
    summary = dict(metrics, failed_ratio=(failed / attempted, "ratio"),
                   wrong_ratio=(len(wrong) / len(doc["queries"]), "ratio"))
    print(f"{args.workload} seed {args.seed}: " + ", ".join(
        f"{k} {v:.6g} {u}" for k, (v, u) in summary.items()))
    print(json.dumps({
        "correct": not wrong and not failed and not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
