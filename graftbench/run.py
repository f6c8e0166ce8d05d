"""graft's benchmark: one command per workload run.

    python3 graftbench/run.py --workload dq_table --seed 1 --seconds 10 --trace 0

Builds graft and the benchmark from source (once per source tree, see
build.py), then runs the workload in one JVM at local[nproc]. The last
line of standard output is the result JSON; the line before it, tagged
`graftbench-detail`, carries the trust stamps and sample counts. The
exit code is non-zero when a correctness check fails or the run breaks.
See graftbench/README.md for the workloads and metrics.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("dq_table", "curate_corpus")
HEAP = "2g"
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def head(digest):
    try:
        r = subprocess.run(["git", "-C", build.ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "src-sha256:" + digest[:16]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt-expected", type=int, choices=(0, 1), default=0,
                    help="perturb one known answer; the run must then fail")
    a = ap.parse_args()

    classes, digest = build.build()
    work = os.path.join(build.build_dir(), "work-%s-%d" % (a.workload, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dspark.ui.enabled=false", "-Dderby.system.home=" + work]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
            "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
            "--corrupt-expected", str(a.corrupt_expected)]
    env = dict(os.environ, GRAFTBENCH_HEAD=head(digest))
    try:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                           timeout=RUN_TIMEOUT_S, env=env, cwd=work)
    except subprocess.TimeoutExpired:
        print("graftbench: run exceeded %d s" % RUN_TIMEOUT_S, file=sys.stderr)
        return 3
    finally:
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(build.build_dir(), "spans-%s.jsonl" % a.workload))
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.stderr.write(r.stdout)
        print("graftbench: no result (exit %d)" % r.returncode, file=sys.stderr)
        return r.returncode or 4
    for l in lines[:-1]:
        print(l)
    for name, m in result["metrics"].items():
        print("# %-32s %14.6g %s" % (name, m["value"], m["unit"]), file=sys.stderr)
    print(json.dumps(result))
    return r.returncode if r.returncode else (0 if result["correct"] else 1)


if __name__ == "__main__":
    sys.exit(main())
