#!/usr/bin/env python3
"""KG-construction benchmark: one command per workload.

    python3 kgbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source (kgbench/build.py), runs the
workload in one local Spark JVM, and prints every metric by name with its
unit. The last stdout line is a compact JSON summary
({"correct", "attempted", "failed", "metrics"}); the full record (every
metric, spans, listener rows, host ceilings, gates) is written to
.bench_out/<workload>-s<seed>-t<trace>.json. Inputs and outputs of the run
live in .bench_work/ and are removed when it ends.

Exit code 0 only when the run finished and printed its summary; a failed
correctness gate still exits 0 with "correct": false.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading

sys.dont_write_bytecode = True
import build  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("kg_build", "kg_large_vocab", "kg_incremental", "graph_canon")
JVM_TIMEOUT_S = 165


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=WORKLOADS, required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=5.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", type=int, default=0, help="0 = the workload's default input size")
    return p.parse_args(argv)


def jvm_command(cp, args, work):
    return build.jvm_base(work) + [
        "-cp", cp, "kgbench.Bench",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--size", str(args.size), "--work", work,
        "--record", os.path.join(ROOT, ".bench_out",
                                 f"{args.workload}-s{args.seed}-t{args.trace}.json"),
        "--result", os.path.join(work, "result.json")]


def run_jvm(cmd, work):
    """Run the benchmark JVM in its own process group, forwarding its
    stdout; stderr (Spark's log) goes to a file shown on failure. The group
    is killed when the JVM outlives JVM_TIMEOUT_S seconds."""
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log,
                                text=True, start_new_session=True)
        timer = threading.Timer(JVM_TIMEOUT_S, os.killpg, (proc.pid, signal.SIGKILL))
        timer.start()
        try:
            for line in proc.stdout:
                sys.stdout.write(line)
            rc = proc.wait()
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise
        finally:
            timer.cancel()
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
    return rc


def main(argv):
    args = parse_args(argv)
    try:
        cp = build.build()
    except build.BuildError as e:
        print(f"[kgbench] build failed: {e}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
    try:
        rc = run_jvm(jvm_command(cp, args, work), work)
        result_path = os.path.join(work, "result.json")
        if rc != 0 or not os.path.exists(result_path):
            print(f"[kgbench] benchmark JVM exited with {rc}", file=sys.stderr)
            return rc or 3
        with open(result_path) as f:
            result = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
