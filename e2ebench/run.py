#!/usr/bin/env python3
"""End-to-end benchmark of the graft engine.

    python3 e2ebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 e2ebench/run.py --smoke

Run from the root of a checkout. Builds the engine and the benchmark from
source (see build.py), then runs one workload in one JVM, closed loop, one
operation at a time, on local[nproc]. The last line of standard output is
the result object; the line before it (E2EBENCH_HOST) carries the host
facts. Everything the run writes stays under .bench_build/ in the checkout:
the per-run record, the Spark log and, with --trace 1, the span file, all
under .bench_build/e2ebench/results/.

--smoke runs every workload once, with its output checks, on the sf0.001
tables and a tiny generated graph. See README.md for the workloads and
METRICS.md for the metric catalogue.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ["batch-sf0.1", "ego-pipeline", "stream-replay"]
# A run must end within 180 s; the JVM is stopped a little before that so
# this script can still clean up and exit with a failure code.
JVM_DEADLINE_S = 170
# Fixed heap (-Xms = -Xmx): the full collection that measures live_heap_mb
# would otherwise shrink the heap just before the warm passes, which then
# paid for growing it again (~20 % slower, and noisier).
HEAP = "4g"


def run_jvm(checkout, classes, workload, seed, seconds, trace, smoke, data):
    out_root = os.path.join(checkout, ".bench_build", "e2ebench")
    results = os.path.join(out_root, "results")
    tag = f"{workload}-s{seed}-t{trace}{'-smoke' if smoke else ''}"
    work = os.path.join(out_root, "work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(results, exist_ok=True)
    cpus = str(len(os.sched_getaffinity(0)))
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus,
               SPARK_GRAFT_NETWORK_TIMEOUT="900s")
    cmd = (["java"] + build.jvm_opens() +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dspark.local.dir={work}/spark-local",
            f"-Dspark.sql.warehouse.dir={work}/warehouse",
            f"-Dderby.system.home={work}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classes + ":" + build.SPARK_JARS + "/*",
            "e2ebench.Main",
            "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
            "--data", data, "--results", results, "--tag", tag,
            "--expected", os.path.join(HERE, "expected"),
            "--benchmark", os.path.join(checkout, "BENCHMARK.json")] +
           (["--smoke"] if smoke else []))
    log_path = os.path.join(results, tag + ".log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                                stderr=log, env=env, text=True)
        try:
            out, _ = proc.communicate(timeout=JVM_DEADLINE_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            sys.exit(f"e2ebench: {tag} exceeded {JVM_DEADLINE_S} s; log {log_path}")
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        with open(log_path) as f:
            tail = f.read()[-3000:]
        sys.stderr.write(tail)
        sys.exit(f"e2ebench: {tag} failed (exit {proc.returncode}); log {log_path}")
    return lines


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--data", default="/root/testdata",
                    help="directory holding the sf0.1 and sf0.001 table dirs")
    a = ap.parse_args()
    if not a.smoke and a.workload is None:
        ap.error("--workload is required unless --smoke is given")
    checkout = os.getcwd()
    classes = build.build(checkout, HERE,
                          os.path.join(checkout, ".bench_build", "e2ebench"))
    if a.smoke:
        ok = True
        for w in WORKLOADS:
            for trace in (0, 1):
                res = json.loads(run_jvm(checkout, classes, w, a.seed, 1, trace,
                                         True, a.data)[-1])
                print(w, f"trace={trace}", json.dumps(res)[:300])
                ok = ok and res["correct"] and res["failed"] == 0
        print("SMOKE", "OK" if ok else "FAILED")
        sys.exit(0 if ok else 1)
    lines = run_jvm(checkout, classes, a.workload, a.seed, a.seconds, a.trace,
                    False, a.data)
    for line in lines:
        print(line)


if __name__ == "__main__":
    main()
