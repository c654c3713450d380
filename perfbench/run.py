"""graft benchmark: one closed-loop run of one workload.

    python3 perfbench/run.py --workload censo --seed 1 --seconds 15 --trace 0

Builds the program from source if needed (build.py), generates the
workload's inputs from --seed, runs one client thread against one
local[N] Spark session (N = min(4, cores)) for --seconds, checks every
op's answer, and prints every metric BENCHMARK.json names for the run's
kind: the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.

Everything it writes stays under perfbench/: .build/ (classes), .work/
(inputs, lake, Spark scratch; removed after the run) and .out/ (the JVM
log and full result of the last run of each workload and kind, and the
spans of traced runs).
The engine query keys read the TPC-H-like testdata at $GRAFT_TESTDATA
(default ~/testdata/sf0.1).
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True  # the checkout stays as it was, apart from perfbench/.*
import build  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("censo", "curation_dedup")
TIMEOUT_S = 170
# the TPC-H-like tables the engine query keys read (see TESTDATA.md)
TESTDATA = os.path.join(os.path.expanduser("~"), "testdata", "sf0.1")
# Spark 4 on JDK 17 outside spark-submit needs these (as build.sbt sets them)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    sys.stderr.write(f"run.py: {msg}\n")
    sys.exit(1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = spec["end_to_end"] if a.trace == "0" else spec["per_layer"]
    classes = build.build()

    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    out = os.path.join(HERE, ".out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out, exist_ok=True)
    log_path = os.path.join(out, f"{a.workload}-trace{a.trace}.log")
    cores = min(4, os.cpu_count() or 1)
    cmd = (["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] +
           # a fixed young generation: G1 does not resize eden from run to run
           ["-Xmx3g", "-Xmn1g", "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", f"{classes}{os.pathsep}{build.classpath()}", "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--work", work, "--out", out, "--cores", str(cores),
            "--testdata", os.environ.get("GRAFT_TESTDATA", TESTDATA),
            "--expected", os.path.join(HERE, "expected", "sparkentry_sf0.1.json")])
    try:
        with open(log_path, "w") as log:
            # Spark's scratch goes under the work dir whatever the caller set
            env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
            proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                                    stderr=log, text=True)
            try:
                stdout, _ = proc.communicate(timeout=TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail(f"timed out after {TIMEOUT_S} s; log in {log_path}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.startswith("GRAFTBENCH_RESULT ")]
    if proc.returncode != 0 or not lines:
        fail(f"benchmark JVM exited {proc.returncode}; log in {log_path}")
    r = json.loads(lines[-1][len("GRAFTBENCH_RESULT "):])
    with open(os.path.join(out, f"{a.workload}-trace{a.trace}.json"), "w") as fh:
        json.dump(r, fh, indent=1)

    values = r["e2e"] if a.trace == "0" else r["layers"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        fail(f"metrics not produced: {missing}")
    d = r["details"]
    print(f"graftbench {a.workload} seed={a.seed} trace={a.trace} cores={r['cores']} "
          f"attempted={r['attempted']} failed={r['failed']} "
          f"failed_ratio={d['failed_ratio']:.4f} measured_s={d['measured_s']:.2f}")
    print("inputs: " + " ".join(f"{k}={v:g}" for k, v in sorted(d["inputs"].items())))
    print("setup reps (s): " + " ".join(f"{x:.3f}" for x in d["setup_reps_s"]) +
          f"; jvm start {d['jvm_start_s']:.3f} s")
    print("cold ops (s): " + " ".join(f"{x:.3f}" for x in d["cold_ops_s"]))
    for t, s in sorted(d["per_type"].items()):
        print(f"  {t}: n={s['n']} p50={s['p50_s']:.4f} s p90={s['tail_s']:.4f} s")
    notes = {"op_p50_s": "  (geometric mean over op types of each type's median)",
             "op_tail_s": "  (geometric mean over op types of each type's p90)"}
    for m in wanted:
        print(f"{m['name']} = {values[m['name']]:.6g} {m['unit']}{notes.get(m['name'], '')}")
    if a.trace == "0":
        print(f"bytes_written_per_input_byte = {d['bytes_written_per_input_byte']:.6g} ratio")
        print(f"peak_rss_mb = {d['peak_rss_mb']:.6g} MiB")
    for e in d["errors"]:
        print(f"FAILED {e}")
    print(json.dumps({
        "correct": r["correct"], "attempted": r["attempted"], "failed": r["failed"],
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in wanted}}))


if __name__ == "__main__":
    main()
