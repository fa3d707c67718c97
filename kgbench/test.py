#!/usr/bin/env python3
"""The benchmark's own test: generator determinism, fold-replica fidelity
and composed-pipeline fidelity against graft.run.Main (kgbench.SelfTest).

    python3 kgbench/test.py        # exit code 0 when every check passes
"""
import os
import shutil
import sys

sys.dont_write_bytecode = True
import build  # noqa: E402
import run  # noqa: E402


def main():
    try:
        cp = build.build()
    except build.BuildError as e:
        print(f"[kgbench] build failed: {e}", file=sys.stderr)
        return 2
    work = os.path.join(build.ROOT, ".bench_work", f"selftest-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        cmd = build.jvm_base(work) + ["-cp", cp, "kgbench.SelfTest", work]
        return run.run_jvm(cmd, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
