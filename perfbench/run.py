#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload edi_feeds --seed 1 --seconds 10 --trace 0

Builds graft and the benchmark from source (cached under .bench_build/),
makes the seeded inputs (cached under perfbench/.inputs/), runs the workload
in one JVM with fixed settings, checks its outputs with DuckDB, and prints
as its last stdout line one JSON object: correct, attempted, failed and the
metrics BENCHMARK.json names (end-to-end ones with --trace 0, per-layer ones
with --trace 1). Everything else goes to stderr.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

HEAP = "2g"
SETUP_PROBES = 2        # extra JVMs that only set up; setup_s is the median over 1 + SETUP_PROBES
JVM_TIMEOUT_S = 150
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
             "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
             "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(*a):
    print("[bench]", *a, file=sys.stderr, flush=True)


def jvm(classes, jars, work, role, extra):
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:TieredStopAtLevel=1",
           f"-Djava.io.tmpdir={work}/tmp",
           f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}{os.pathsep}{jars}/*", "graftbench.Bench", "--role", role, "--work", work] + extra
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k not in ("SPARK_LOCAL_DIRS", "SPARK_CONF_DIR")}
    env["SPARK_LOCAL_IP"] = "127.0.0.1"
    return subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, env=env)


def run_jvms(classes, jars, work, args, inputs):
    """Start the main JVM and the set-up probes together; the main JVM waits
    for the probes before its first pass. Every process is stopped and
    reaped before returning."""
    os.makedirs(os.path.join(work, "tmp"))
    procs = [jvm(classes, jars, work, "main",
                 ["--workload", args.workload, "--inputs", inputs, "--seconds", str(args.seconds),
                  "--trace", str(args.trace), "--probes", str(SETUP_PROBES)])]
    procs += [jvm(classes, jars, work, "setup", ["--id", str(i)]) for i in range(SETUP_PROBES)]
    deadline = time.time() + JVM_TIMEOUT_S
    try:
        for p in procs:
            p.wait(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        log(f"JVM did not finish within {JVM_TIMEOUT_S}s")
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
            p.wait()
    return procs[0].returncode


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", default="full", choices=sorted(gen.SIZES),
                    help="input size; 'smoke' is the tiny size of the benchmark's own tests")
    ap.add_argument("--keep", action="store_true", help="keep the run's work directory")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    t0 = time.time()
    classes, jars = build.build()
    inputs, _ = gen.inputs(args.workload, args.seed, args.size)
    log(f"build and inputs ready in {time.time() - t0:.1f} s")
    work = os.path.join(build.BUILD, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        t0 = time.time()
        rc = run_jvms(classes, jars, work, args, inputs)
        log(f"JVMs done in {time.time() - t0:.1f} s")
        res_path = os.path.join(work, "result.json")
        if not os.path.exists(res_path):
            raise SystemExit(f"benchmark JVM exited {rc} without a result")
        with open(res_path) as f:
            res = json.load(f)
        probes = []
        for i in range(SETUP_PROBES):
            p = os.path.join(work, f"setup-{i}.json")
            if os.path.exists(p):
                with open(p) as f:
                    probes.append(json.load(f))
        for k in ("setup_s", "setup_wall_s"):
            res["metrics"][k]["value"] = statistics.median(
                [res["metrics"][k]["value"]] + [p[k] for p in probes])
        t0 = time.time()
        problems = verify(args, inputs, res)
        log(f"checks done in {time.time() - t0:.1f} s")
        for e in res["errors"]:
            log(f"failed {e['op']}: {e['class']}: {e['message'][:300]}")
        for p in problems:
            log("check:", p)
        wall = {k: round(res["metrics"][k]["value"], 3) for k in ("setup_wall_s", "rows_per_s", "op_geomean_ms")
                if k in res["metrics"] and res["metrics"][k]["value"] is not None}
        log(f"wall clock (not gated): {wall}")
        metrics = {}
        for m in wanted:
            v = res["metrics"].get(m["name"], {}).get("value")
            if v is None:
                problems.append(f"metric {m['name']} not measured")
                v = 0.0
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        if args.trace:
            keep = os.path.join(build.BUILD, "traces")
            os.makedirs(keep, exist_ok=True)
            if os.path.exists(os.path.join(work, "spans.jsonl")):
                shutil.copy(os.path.join(work, "spans.jsonl"),
                            os.path.join(keep, f"{args.workload}-s{args.seed}.spans.jsonl"))
        out = {"correct": not problems, "attempted": res["attempted"], "failed": res["failed"],
               "metrics": metrics}
    finally:
        if args.keep:
            log(f"kept work directory {work}")
        else:
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))


def verify(args, inputs, res):
    """Output checks; an empty list means every output is correct."""
    facts = res["facts"]
    if "out_dir" not in facts and "last_round_out" not in facts:
        return ["the workload wrote no output to check"]
    if args.workload == "edi_feeds":
        names = sorted(n[:-5] for n in os.listdir(os.path.join(inputs, "messages")))
        problems = check.check_exactly_once(names, facts.get("produced_rounds", []),
                                            [e for e in res["errors"] if e["op"] == "message"])
        return problems + check.check_feeds(inputs, facts["last_round_out"], names)
    return check.check_registry(inputs, facts["out_dir"], facts["oracle_sql"])


if __name__ == "__main__":
    main()
