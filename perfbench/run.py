#!/usr/bin/env python3
"""graft's benchmark: one command runs one workload with one seed.

    python3 perfbench/run.py --workload nightly --seed 1 --seconds 10 --trace 0

Run from the repository root. It builds the program and the harness from
source (perfbench/build.py), starts one JVM running Spark local[<cores>],
sets up, warms, measures for --seconds, checks every output, prints each
metric by name and unit, and prints one JSON object as the last line of
stdout. --trace 0 reports the end-to-end metrics of BENCHMARK.json,
--trace 1 the per-layer metrics (from a run with Spark listeners and spans).

Workloads (perfbench/README.md says why each was chosen):
  nightly        the reference's night on disk: SODA ingest, enrich, merges,
                 z-order, compaction, replay, delta, CDC/tally/backlog
  crash_queries  a seeded-order pass over the crash-table etl_* queries
  staged_loops   a seeded-order pass over graph_* loops and dedup_* ladders

Options beyond --workload/--seed/--seconds/--trace: --sf (input scale, default 0.01),
--plant-fail KEY and --perturb KEY (self-test), --make-digests (write the
catalog digests of this commit), --bridge (time count() beside the sink),
--out FILE (also save the full result record).
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True  # leave nothing behind in the checkout
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("nightly", "crash_queries", "staged_loops")
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
RUN_LIMIT_S = 175      # a run must end within 180 s ...
FIRST_RUN_LIMIT_S = 880  # ... or 900 s when it also builds


def parse():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=0.01)
    p.add_argument("--plant-fail")
    p.add_argument("--perturb")
    p.add_argument("--make-digests", action="store_true")
    p.add_argument("--bridge", action="store_true")
    p.add_argument("--out")
    return p.parse_args()


def main():
    a = parse()
    t0 = time.time()
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    stamp_before = os.path.exists(os.path.join(build.build_dir(), "classes.stamp"))
    cp = build.build()
    # the one-off recording modes may run longer than a benchmark run
    limit = RUN_LIMIT_S if stamp_before and not (a.bridge or a.make_digests) else FIRST_RUN_LIMIT_S

    work = os.path.join(build.build_dir(), "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # the inputs, made once; their time is reported beside setup_s, not in it
    inputs = os.path.join(work, "inputs")
    g0 = time.perf_counter()
    gen.tables(a.workload, a.sf, inputs)
    if a.workload == "nightly":
        gen.soda(a.seed, a.sf, os.path.join(inputs, "soda"))
    inputs_s = time.perf_counter() - g0
    result_path = os.path.join(work, "result.json")
    log_path = os.path.join(work, "jvm.log")
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
           ["-XX:-UsePerfData", "-Xss64m", "-Xmx2g", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
            "-cp", cp, "graftbench.Main", a.workload, str(a.seed), str(a.seconds),
            str(a.trace), str(a.sf), work, inputs, os.path.join(HERE, "digests.tsv"),
            result_path, "--inputs-s", str(inputs_s)])
    if a.plant_fail:
        cmd += ["--plant-fail", a.plant_fail]
    if a.perturb:
        cmd += ["--perturb", a.perturb]
    if a.make_digests:
        cmd.append("--make-digests")
    if a.bridge:
        cmd.append("--bridge")

    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
            try:
                code = proc.wait(timeout=max(10.0, limit - (time.time() - t0)))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                code = None
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        if code != 0 or not os.path.exists(result_path):
            with open(log_path, errors="replace") as fh:
                sys.stderr.write(fh.read()[-6000:])
            sys.stderr.write(f"run: JVM {'timed out' if code is None else f'exited {code}'}\n")
            return 1
        with open(result_path) as fh:
            res = json.load(fh)
        if a.make_digests or a.bridge:
            with open(os.path.join(work, "digests.tsv")) as fh:
                sys.stdout.write(fh.read())
        if a.out:
            with open(a.out, "w") as fh:
                json.dump(res, fh, indent=1)
                fh.write("\n")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for o in res["ops"]:
        if o["seconds"] is None:
            print(f"FAILED op {o['name']} ({o['layer']}): {o['error']}")
    for c in res["checks"]:
        if not c["ok"]:
            print(f"FAILED check {c['name']}: {c['detail']}")
    print(f"workload {a.workload} seed {a.seed} sf {res['sf']} cpus {res['cpus']} "
          f"heap {res['max_heap_mb']} MB passes {res['passes']}")
    for group in ("end_to_end", "per_layer"):
        for k, m in res[group].items():
            print(f"{group} {k} = {m['value']} {m['unit']}")

    names = spec["end_to_end"] if a.trace == 0 else spec["per_layer"]
    got = res["end_to_end"] if a.trace == 0 else res["per_layer"]
    metrics = {}
    for m in names:
        v = got.get(m["name"], {}).get("value")
        metrics[m["name"]] = {"value": 0.0 if v is None else v, "unit": m["unit"]}
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
