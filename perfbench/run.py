"""graft benchmark: one seeded run of one workload.

    python3 perfbench/run.py --workload varinfo|ingest --seed N \
        --seconds S --trace 0|1

Builds the program and the runner from source on first use (build.py),
generates the workload's inputs from the seed (gen.py), runs the runner in
one JVM (Spark local[nproc], one closed-loop caller), checks the outputs,
times another cold set-up in a set-up-only JVM (untraced runs), and
prints as its last line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (see metrics.py and NOTES.md). Everything the run writes
stays under .bench_build/ in the checkout; the run's full record (spans,
jobs, stages, tails) is kept under .bench_build/results/, and a failed
run's inputs, work directory and JVM log under .bench_build/runs/.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave the benchmark's directory as checked in

import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

HEAP = "3g"
# Cold set-ups per untraced run, each in its own JVM: the run's own and
# SETUPS - 1 set-up-only ones; `setup_s` is their median.
SETUPS = 2
# The run's JVMs together must end within this many seconds.
JVM_BUDGET_S = 165


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(1)


def run_jvm(cp, a, inputs, work, out, log_file, deadline, setup_only=False):
    """Run the runner JVM to its end (killing it at the deadline) and
    return its record."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark", "local"),
               TMPDIR=tmp)
    cmd = (["java"] + build.jvm_options(HEAP, tmp) +
           ["-cp", cp, "graftbench.Main",
            "--workload", a.workload, "--inputs", inputs, "--work", work,
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cpus", str(nproc()), "--out", out,
            "--setup-only", "1" if setup_only else "0"])
    with open(log_file, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                cwd=work, env=env)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail(f"runner JVM ran past the {JVM_BUDGET_S}s budget; log: {log_file}")
        finally:  # also on SIGTERM (below): never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.exists(out):
        with open(log_file) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"runner JVM exited with {rc}; log: {log_file}")
    with open(out) as f:
        return json.load(f)


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    ap = argparse.ArgumentParser(description="graft benchmark run")
    ap.add_argument("--workload", required=True, choices=sorted(gen.WRITERS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    try:
        cp = build.build()
    except (build.BuildError, subprocess.TimeoutExpired, OSError) as e:
        fail(f"build failed: {e}")

    name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    run_dir = os.path.join(build.BUILD, "runs", f"{name}-{os.getpid()}")
    inputs = os.path.join(run_dir, "inputs")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    gen.generate(a.workload, a.seed, inputs)

    t0 = time.time()
    deadline = t0 + JVM_BUDGET_S
    record = run_jvm(cp, a, inputs, os.path.join(run_dir, "work"),
                     os.path.join(run_dir, "record.json"),
                     os.path.join(run_dir, "jvm.log"), deadline)
    # the run's own set-up and, untraced, more cold set-ups in fresh JVMs
    record["setups_s"] = [record["setup_s"]]
    for i in range(1, SETUPS if not a.trace else 1):
        r = run_jvm(cp, a, inputs, os.path.join(run_dir, f"work-setup{i}"),
                    os.path.join(run_dir, f"setup{i}.json"),
                    os.path.join(run_dir, f"jvm-setup{i}.log"), deadline,
                    setup_only=True)
        record["setups_s"].append(r["setup_s"])

    attempted = len(record["units"])
    failed = len({x["unit"] for x in record["failures"]})
    for x in record["failures"]:
        for m in x["messages"]:
            print(f"[perfbench] unit {x['unit']}: {m}", file=sys.stderr)
    figures = metrics.end_to_end(record)
    if a.trace:
        values, names = metrics.per_layer(record), metrics.PER_LAYER
    else:
        values, names = figures, metrics.END_TO_END
    out = {"correct": failed == 0 and attempted > 0,
           "attempted": max(attempted, 1), "failed": failed,
           "metrics": {n: {"value": values[n], "unit": u} for n, u in names}}

    results = os.path.join(build.BUILD, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{name}.json"), "w") as f:
        json.dump({"result": out, "wall_s": time.time() - t0,
                   "figures": figures, "tails": metrics.tails(record),
                   "layers": metrics.layer_detail(record) if a.trace else None,
                   "record": record}, f)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
