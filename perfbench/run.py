"""Benchmark entry point: one workload, one run.

Usage (from the repository root):
  python3 perfbench/run.py --workload fithic_cli --seed 1 --seconds 20 \
      --trace 0

Builds the program from source (perfbench/build.py), generates the seeded
input outside the clock (perfbench/gen_hic.py, cached on disk by seed and
size), runs the workload in one JVM with Spark local[k], k = the CPUs this
process may use, and prints the metrics of BENCHMARK.json as the last line:
  {"correct": ..., "attempted": n, "failed": n, "metrics": {name: {value, unit}}}
End-to-end metrics with --trace 0, per-layer metrics with --trace 1.
Exits non-zero, printing no result, when the build, the input or the run
fails.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen_hic  # noqa: E402

BUILD = build.BUILD
WORKLOADS = ("fithic_cli", "suite_sf0.01")
HIC_SIZE = "fithic"
JVM_BUDGET_S = 165


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(1)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def hic_input(seed):
    """The seeded genome's directory, generated once per (seed, size)."""
    out = os.path.join(BUILD, "data", gen_hic.cache_name(seed, HIC_SIZE))
    if not os.path.isdir(out):
        os.makedirs(os.path.dirname(out), exist_ok=True)
        shutil.rmtree(out + ".tmp", ignore_errors=True)
        gen_hic.write_all(seed, HIC_SIZE, out)
    return out


def main(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    sp = spec()
    metrics = sp["per_layer" if a.trace else "end_to_end"]
    jar, jars, jsa = build.build()

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(BUILD, "work", "%s-%d" % (a.workload, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    args = ["--workload", a.workload, "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(cores), "--work", work]
    hic = hic_input(a.seed)
    args += ["--hic", hic]
    with open(os.path.join(hic, "truth.json")) as f:
        t = json.load(f)
    print("input: seed=%d contacts=%d fragments=%d bytes=%d stream_files=%d"
          % (a.seed, t["contacts"], t["fragments"], t["bytes"],
             t["stream_files"]))
    if a.workload == "suite_sf0.01":
        args += ["--sf", os.path.join(HERE, "data", "sf0.01"),
                 "--pins", os.path.join(HERE, "pins", "suite_sf0.01.tsv")]
    if a.trace:
        os.makedirs(os.path.join(BUILD, "spans"), exist_ok=True)
        args += ["--spans", os.path.join(
            BUILD, "spans", "%s_s%d.jsonl" % (a.workload, a.seed))]

    cmd = build.java_cmd(jar, jars, work,
                         ["-XX:SharedArchiveFile=" + jsa]) + args
    result = None
    proc = subprocess.Popen(cmd, cwd=ROOT, env=build.java_env(),
                            stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    # a run that overstays its budget is killed and prints no result
    watchdog = threading.Timer(JVM_BUDGET_S, os.killpg, (proc.pid, 9))
    watchdog.start()
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line.startswith("PERFBENCH_RESULT "):
                result = json.loads(line[len("PERFBENCH_RESULT "):])
            elif line.startswith("PERFBENCH_INFO "):
                print("info: " + line[len("PERFBENCH_INFO "):])
        proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            os.killpg(proc.pid, 9)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0 or result is None:
        fail("workload JVM failed (exit %s)" % proc.returncode)

    got = result["metrics"]
    missing = [m["name"] for m in metrics if m["name"] not in got]
    if missing:
        fail("missing metrics: " + ", ".join(missing))
    out = {
        "correct": bool(result["correct"]),
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": {m["name"]: {"value": got[m["name"]], "unit": m["unit"]}
                    for m in metrics},
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main(sys.argv[1:])
