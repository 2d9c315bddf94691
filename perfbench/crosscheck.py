#!/usr/bin/env python3
"""One-off checks behind the benchmark's reference digests and counters.

    python3 perfbench/crosscheck.py oracle --workload NAME [--tables DIR]

Runs the harness once on the workload's tables (no timed work beyond its
minimum) and checks its digests against perfbench/reference/NAME.json; then
runs graft.Verify on the same classpath for the workload's queries and hands
its dump to tools/localcheck.py (the DuckDB oracle). localcheck reads all ten
tables of a scale, so where perfbench/data/ holds only the ones a workload
reads, pass the full directory of the test corpus as --tables; every table
the checkout has must then be byte-identical to the one in DIR.

    python3 perfbench/crosscheck.py counts --workload NAME --seed N

Makes two traced runs with one seed and lists every count metric of every
query that differs between them.
"""
import argparse
import filecmp
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

COUNTS = ("sched.jobs", "sched.stages", "sched.stages_skipped", "sched.tasks",
          "entry.build_jobs", "plan.executions", "scan.bytes", "scan.records",
          "exchange.write_bytes", "exchange.write_records", "exchange.read_bytes",
          "sink.bytes_written", "sink.records_written", "stream.batches",
          "stream.input_rows", "storage.put_bytes", "codegen.classes")


def harness(wl, args, work, out_json, extra):
    cp = run.classpath(time.time() + 800)
    return run.run_jvm(cp, ["--workload", args.workload, "--seed", str(args.seed),
                            "--data", os.path.join(run.HERE, wl["data"]),
                            "--queries", ",".join(wl["queries"])] + extra,
                       out_json, time.time() + 600, os.path.basename(work))


def oracle(wl, args, work):
    data = os.path.join(run.HERE, wl["data"])
    tables = args.tables or data
    for f in sorted(os.listdir(data)):
        if not filecmp.cmp(os.path.join(data, f), os.path.join(tables, f), shallow=False):
            print(f"{f} differs between {data} and {tables}")
            return 1
    doc = harness(wl, args, work, os.path.join(work, "out.json"),
                  ["--seconds", "0", "--trace", "0"])
    with open(os.path.join(run.HERE, "reference", f"{args.workload}.json")) as fh:
        ref = json.load(fh)
    got = {q: c.get("digest") for q, c in doc["check"].items()}
    diff = sorted(q for q in wl["queries"] if got.get(q) != ref.get(q))
    print(f"reference digests: {len(wl['queries']) - len(diff)}/{len(wl['queries'])} "
          f"equal{'; differ: ' + ', '.join(diff) if diff else ''}")

    dump = os.path.join(work, "verify")
    java = shutil.which("java") or run.fail("no java on PATH")
    cmd = [java, f"-Xmx{run.JVM_MEMORY}", f"-Djava.io.tmpdir={work}"]
    for p in run.ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", run.classpath(time.time() + 800), "graft.Verify", tables, dump,
            ",".join(wl["queries"])]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(run.slots()))
    env.pop("SPARK_GRAFT_CONF", None)
    with open(os.path.join(work, "verify.log"), "wb") as out:
        if run.run_group(cmd, work, 600, env, out) != 0:
            run.fail(f"graft.Verify failed; see {work}/verify.log")
    tool = os.path.join(run.ROOT, "tools", "localcheck.py")
    code = subprocess.run([sys.executable, tool, tables, dump]).returncode
    print(f"Verify output kept in {dump}")
    return code or (1 if diff else 0)


def counts(wl, args, work):
    docs = [harness(wl, args, work, os.path.join(work, f"trace{i}.json"),
                    ["--seconds", "0", "--trace", "1"]) for i in (1, 2)]
    runs = [next(p for p in d["passes"] if p["traced"])["runs"] for d in docs]
    differ = 0
    for q in wl["queries"]:
        for k in COUNTS:
            a, b = (r[q].get(k, 0.0) for r in runs)
            if a != b:
                differ += 1
                print(f"DIFFERS {q} {k}: {a} vs {b}")
    print(f"{len(wl['queries']) * len(COUNTS) - differ}/{len(wl['queries']) * len(COUNTS)} "
          "(query, count) pairs repeat exactly")
    return 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("check", choices=["oracle", "counts"])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--tables")
    args = ap.parse_args()
    with open(os.path.join(run.HERE, "workloads.json")) as fh:
        wl = json.load(fh)["workloads"][args.workload]
    os.makedirs(run.WORK, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"crosscheck-{args.workload}-", dir=run.WORK)
    sys.exit((oracle if args.check == "oracle" else counts)(wl, args, work))


if __name__ == "__main__":
    main()
