"""Self-test: a corrupted expected answer must fail the benchmark.

    python3 graftbench/selftest.py [workload ...]

For each workload (default: all), runs the benchmark once with one known
answer perturbed (`--corrupt-expected 1`) and checks that the run exits
non-zero and reports `"correct": false`. Exits non-zero if any run
passes anyway.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
from run import WORKLOADS  # noqa: E402


def main():
    bad = 0
    for w in sys.argv[1:] or WORKLOADS:
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                            "--seed", "1", "--seconds", "1", "--trace", "0",
                            "--corrupt-expected", "1"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                           cwd=os.path.dirname(HERE))
        lines = r.stdout.strip().splitlines()
        correct = json.loads(lines[-1])["correct"] if lines else None
        ok = r.returncode != 0 and correct is False
        print("%-14s exit=%d correct=%s -> %s" % (w, r.returncode, correct,
                                                 "ok" if ok else "NOT DETECTED"))
        bad += not ok
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
