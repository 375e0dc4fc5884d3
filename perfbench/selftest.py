#!/usr/bin/env python3
"""Self-test of the benchmark, at sf 0.001 (about two and a half minutes).

    python3 perfbench/selftest.py      # from the repository root

Checks that:
  * every workload emits every end-to-end and per-layer metric named in
    BENCHMARK.json, with its unit, and passes its own output checks;
  * a planted failing query counts as failed, with a null time that is not
    a timing sample;
  * a perturbed query output fails the digest check.
Exits 0 when every check holds.
"""
import json
import os
import subprocess
import sys
import tempfile

FAIL_KEY = "etl_normalize"
PERTURB_KEY = "etl_zone_assign"


def run(workload, *extra):
    with tempfile.NamedTemporaryFile(suffix=".json", dir=".", delete=False) as fh:
        out = fh.name
    try:
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                            "--seed", "7", "--seconds", "1", "--sf", "0.001", "--out", out,
                            *extra], capture_output=True, text=True)
        last = json.loads(p.stdout.strip().splitlines()[-1]) if p.returncode == 0 else None
        record = json.load(open(out)) if p.returncode == 0 else None
        return p, last, record
    finally:
        os.remove(out)


def main():
    spec = json.load(open("BENCHMARK.json"))
    problems = []

    def expect(cond, what):
        print(("ok   " if cond else "FAIL ") + what)
        if not cond:
            problems.append(what)

    for w in (x["name"] for x in spec["workloads"]):
        p, last, rec = run(w, "--trace", "1")
        expect(p.returncode == 0, f"{w}: run exits 0")
        if rec is None:
            sys.stderr.write(p.stderr[-3000:])
            continue
        expect(last["correct"] and last["failed"] == 0, f"{w}: outputs correct, nothing failed")
        for m in spec["end_to_end"]:
            got = rec["end_to_end"].get(m["name"])
            expect(got is not None and got["unit"] == m["unit"] and got["value"] > 0,
                   f"{w}: end-to-end {m['name']} emitted in {m['unit']}, non-zero")
        for m in spec["per_layer"]:
            got = last["metrics"].get(m["name"])
            expect(got is not None and got["unit"] == m["unit"],
                   f"{w}: per-layer {m['name']} emitted in {m['unit']}")

    p, last, rec = run("crash_queries", "--trace", "0", "--plant-fail", FAIL_KEY,
                       "--perturb", PERTURB_KEY)
    expect(p.returncode == 0 and rec is not None, "planted run exits 0 with a result")
    if rec is not None:
        timed = [o for o in rec["ops"] if o["timed"]]
        expect(not last["correct"] and last["failed"] >= 3,
               "planted failure and perturbation are counted as failed")
        expect(last["metrics"]["ok_share"]["value"] < 1.0, "ok_share drops below 1")
        expect(all(o["seconds"] is None for o in rec["ops"] if o["name"] == FAIL_KEY),
               f"{FAIL_KEY}: every attempt has a null time")
        expect(any(c["name"] == f"digest:{PERTURB_KEY}" and not c["ok"] for c in rec["checks"]),
               f"{PERTURB_KEY}: perturbed output fails the digest check")
        expect(all(o["seconds"] is None for o in timed if o["name"] == PERTURB_KEY),
               f"{PERTURB_KEY}: a query with a wrong output is not timed")
        samples = sum(1 for o in timed if o["seconds"] is not None)
        expect(rec["end_to_end"]["query_samples"]["value"] == samples == len(timed) - 2 *
               rec["passes"], "failed queries are not timing samples")

    print("selftest:", "PASSED" if not problems else f"{len(problems)} FAILED")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
