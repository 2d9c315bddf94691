#!/usr/bin/env python3
"""Self-test for the dev-side gate tools (localcheck.py, digestcmp.py).

Reproduction fixtures for the recorded tool edges, so tool fixes land
with executable evidence instead of a prose note:

  L1  localcheck: zero-part-file Spark output (only _SUCCESS) with an
      empty oracle result -> PASS (degraded empty-vs-empty compare),
      not a read_parquet glob error.        (r18 audit find, fixed r19)
  L2  localcheck: zero-part-file output with a NON-empty oracle ->
      FAIL rows 0 vs N, never a silent pass.
  D1  digestcmp: --pin + --pinned refused (previously --pinned was
      silently ignored).                              (ADVICE r18 #1)
  D2  digestcmp: --pin + --partition-changing refused (pins are
      bit-identity evidence).                         (ADVICE r18 #2)
  D3  digestcmp: trailing comma in --only is dropped, not reported as
      a blank missing query.                          (ADVICE r18 #3)
  D4  digestcmp: --only naming a pinned-but-absent query on a
      single-dir --pinned run DIVERGEs via ERR (exit 1), is not
      counted covered-and-skipped.             (r18 verdict audit ask)
  D5  digestcmp: --only with a genuinely unknown name still errors
      (the r18 coverage guard holds through the token filter).
  D6  digestcmp: an empty --pinned file is refused by name instead of
      the misleading "need at least two dirs" error / a silently
      vacuous pin column.                   (r19 audit note, fixed r19)
  L3  localcheck: an output dir MISSING entirely (partial/crashed
      Verify run) with an empty-result oracle -> FAIL 'missing output
      dir', never the degraded empty-vs-empty PASS; the degraded path
      requires the dir + _SUCCESS to exist.     (ADVICE r20, fixed r20)
  D7  digestcmp: an --only of only empty tokens (e.g. --only ',') is
      refused, not silently degraded to a full-compare no-op filter.
                                              (ADVICE r20, fixed r20)
  L4  localcheck: 0, 1 or 3 arguments -> usage line, exit 2 (was: an
      IndexError traceback for too few, a silently ignored 3rd).

Usage: python3 tools/toolcheck.py    (exit 0 iff all fixtures pass)
"""
import json
import os
import subprocess
import sys
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
PY = sys.executable


def run(script, *argv):
    return subprocess.run(
        [PY, os.path.join(HERE, script), *argv],
        capture_output=True, text=True)


def check(name, cond, detail=""):
    print(f"{'PASS' if cond else 'FAIL'} {name}" + (f" ({detail})" if detail else ""))
    return bool(cond)


def main():
    ok = True
    with tempfile.TemporaryDirectory() as tmp:
        # --- localcheck fixtures -------------------------------------
        # minimal sf dir: localcheck CREATEs a view per table, so every
        # table parquet must exist; one row in lineitem drives L2.
        sf = os.path.join(tmp, "sf")
        os.makedirs(sf)
        for t in ("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "documents",
                  "embeddings"):
            pq.write_table(pa.table({"x": [1]}), f"{sf}/{t}.parquet")

        # L1: zero-part-file output dir (only _SUCCESS), empty oracle.
        out1 = os.path.join(tmp, "out1")
        os.makedirs(os.path.join(out1, "q_empty"))
        open(os.path.join(out1, "q_empty", "_SUCCESS"), "w").close()
        with open(os.path.join(out1, "oracle_sql.json"), "w") as f:
            json.dump({"q_empty": "SELECT x FROM lineitem WHERE x < 0"}, f)
        r = run("localcheck.py", sf, out1)
        ok &= check("L1 zero-part + empty oracle -> PASS",
                    r.returncode == 0 and "PASS q_empty" in r.stdout,
                    r.stdout.strip().splitlines()[-1] if r.stdout else r.stderr)

        # L2: same zero-part-file dir, oracle returns 1 row.
        out2 = os.path.join(tmp, "out2")
        os.makedirs(os.path.join(out2, "q_empty"))
        open(os.path.join(out2, "q_empty", "_SUCCESS"), "w").close()
        with open(os.path.join(out2, "oracle_sql.json"), "w") as f:
            json.dump({"q_empty": "SELECT x FROM lineitem"}, f)
        r = run("localcheck.py", sf, out2)
        ok &= check("L2 zero-part + non-empty oracle -> FAIL",
                    r.returncode == 1 and "FAIL q_empty" in r.stdout
                    and "oracle=1" in r.stdout)

        # --- digestcmp fixtures --------------------------------------
        # one Verify-shaped dir with a single query output, plus a pin
        # file that also pins a query the dir does NOT contain.
        vd = os.path.join(tmp, "verify")
        os.makedirs(os.path.join(vd, "q_present"))
        pq.write_table(pa.table({"k": [1, 2], "v": ["a", "b"]}),
                       os.path.join(vd, "q_present", "part-0.parquet"))
        pinfile = os.path.join(tmp, "pins.json")
        r = run("digestcmp.py", vd, "--pin", pinfile)
        assert r.returncode == 0, r.stderr
        pins = json.load(open(pinfile))
        pins["q_absent"] = "0" * 16  # pinned but absent from the dir
        with open(pinfile, "w") as f:
            json.dump(pins, f)

        # D1: --pin + --pinned refused.
        r = run("digestcmp.py", vd, "--pin", pinfile, "--pinned", pinfile)
        ok &= check("D1 --pin+--pinned refused",
                    r.returncode == 2 and "cannot be combined" in r.stderr)

        # D2: --pin + --partition-changing refused.
        r = run("digestcmp.py", vd, "--pin", os.path.join(tmp, "p2.json"),
                "--partition-changing")
        ok &= check("D2 --pin+--partition-changing refused",
                    r.returncode == 2 and "bit-identity" in r.stderr)

        # D3: trailing comma in --only tolerated (no blank-name error).
        r = run("digestcmp.py", vd, "--pinned", pinfile,
                "--only", "q_present,")
        ok &= check("D3 trailing comma in --only tolerated",
                    r.returncode == 0 and "not found" not in r.stderr
                    and "IDENTICAL   q_present" in r.stdout)

        # D4: --only naming a pinned-but-absent query on a single-dir
        # --pinned run must DIVERGE via ERR, not exit 0.
        r = run("digestcmp.py", vd, "--pinned", pinfile,
                "--only", "q_absent")
        ok &= check("D4 pinned-but-absent under --only -> DIVERGE",
                    r.returncode == 1 and "DIVERGE" in r.stdout
                    and "ERR" in r.stdout)

        # D5: a genuinely unknown --only name still errors (coverage
        # guard survives the empty-token filter).
        r = run("digestcmp.py", vd, "--pinned", pinfile,
                "--only", "q_typo,")
        ok &= check("D5 unknown --only name still errors",
                    r.returncode == 2 and "q_typo" in r.stderr)

        # D6: an empty pin file is refused by name (was: misleading
        # "need at least two dirs" on a single dir, silently-vacuous
        # pin column on multiple).          (r19 audit note, fixed r19)
        emptypins = os.path.join(tmp, "empty_pins.json")
        with open(emptypins, "w") as f:
            json.dump({}, f)
        r = run("digestcmp.py", vd, "--pinned", emptypins)
        ok &= check("D6 empty pin file refused",
                    r.returncode == 2 and "empty" in r.stderr)

        # L3: output dir missing entirely (crashed Verify) + an oracle
        # that returns 0 rows must FAIL 'missing output dir', not take
        # the degraded empty-vs-empty PASS (the masked case: before the
        # fix this read as a green gate over a never-written query).
        out3 = os.path.join(tmp, "out3")
        os.makedirs(out3)  # out dir exists, but q_empty/ does not
        with open(os.path.join(out3, "oracle_sql.json"), "w") as f:
            json.dump({"q_empty": "SELECT x FROM lineitem WHERE x < 0"}, f)
        r = run("localcheck.py", sf, out3)
        ok &= check("L3 missing output dir + empty oracle -> FAIL",
                    r.returncode == 1 and "FAIL q_empty" in r.stdout
                    and "missing output dir" in r.stdout)

        # D7: --only consisting solely of empty tokens is refused (was:
        # silent degradation to no filter, i.e. a full compare the
        # caller did not ask for).
        r = run("digestcmp.py", vd, "--pinned", pinfile, "--only", ",")
        ok &= check("D7 all-empty --only refused",
                    r.returncode == 2 and "no query names" in r.stderr)

    # L4: any argument count but two is refused with the usage line.
    for argv in ([], ["a"], ["a", "b", "c"]):
        r = run("localcheck.py", *argv)
        ok &= check(f"L4 localcheck with {len(argv)} args refused",
                    r.returncode == 2 and
                    "usage: localcheck.py <sfDir> <outDir>" in r.stderr)

    print("== toolcheck", "OK" if ok else "FAILED", "==")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
