#!/usr/bin/env python3
"""Runs one benchmark workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1> \\
        [--heap <jvm size>] [--<generator arg> <value> ...]

Builds the program and the benchmark if their sources changed (build.py),
then runs the workload in one JVM on local[4]. Everything the run writes
stays under perfbench/.build and perfbench/.work. The last line of stdout is
the result JSON; on any failure the exit code is non-zero and no result is
printed. See README.md for the workloads and metrics.
"""
import json
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # nothing but .build and .work is written
import build  # noqa: E402

# a run ends within this many seconds; one that also builds, within BUILD_LIMIT_S
LIMIT_S = 175
BUILD_LIMIT_S = 880
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def main(argv):
    t0 = time.monotonic()
    args = list(argv)
    heap = "4g"
    if "--heap" in args:
        i = args.index("--heap")
        heap = args[i + 1]
        del args[i:i + 2]
    try:
        built = build.build()
    except subprocess.CalledProcessError as e:
        sys.exit(f"run: the build failed ({e})")
    deadline = t0 + (BUILD_LIMIT_S if built else LIMIT_S)
    cds = [f"-XX:SharedArchiveFile={build.ARCHIVE}"]
    proc = subprocess.Popen(build.jvm("perfbench.Main", heap, cds) + args, stdout=subprocess.PIPE, text=True,
                            env=build.jvm_env())
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit("run: the workload did not finish within its time limit")
    lines = out.splitlines()
    try:
        result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
    except ValueError:
        result = None
    if not isinstance(result, dict) or set(result) != RESULT_KEYS:
        print("\n".join(l for l in lines if not l.startswith('{"correct"')))
        sys.exit(f"run: the JVM exited with code {proc.returncode} without a result")
    sys.stdout.write(out)


if __name__ == "__main__":
    main(sys.argv[1:])
