"""Runs one workload of the graft benchmark and prints its result.

    python3 perfbench/run.py --workload lookup_cached --seed 1 --seconds 10 --trace 0

Builds the library and the harness from source (see build.py), checks the
fixture tables against fixture/SHA256SUMS, then runs the harness in one JVM. The last stdout line is the result object; the line
before it carries the run's details. Traces go to <build>/work/trace/.
`--record` rewrites perfbench/expected/pipeline_suite.tsv from the current
tree instead of measuring.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("lookup_cached", "prepare_mix", "pipeline_suite")
JVM_TIMEOUT_S = 170
RECORD_TIMEOUT_S = 1800
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fixture_problem(d):
    """None when every file listed in SHA256SUMS is present and intact."""
    sums = os.path.join(d, "SHA256SUMS")
    if not os.path.exists(sums):
        return "missing " + sums
    for line in open(sums):
        digest, name = line.split()
        path = os.path.join(d, name)
        if not os.path.isfile(path):
            return "missing " + path
        with open(path, "rb") as fh:
            if hashlib.sha256(fh.read()).hexdigest() != digest:
                return "changed " + path
    return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()

    try:
        classpath = build.build()
    except build.BuildError as e:
        sys.stderr.write("build: %s\n" % e)
        return 2

    fixture = os.path.join(build.HERE, "fixture")
    problem = fixture_problem(fixture)
    if problem:
        sys.stderr.write("fixture: %s\n" % problem)
        return 2

    work = os.path.join(build.build_dir(), "work")
    tmp = os.path.join(work, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.makedirs(os.path.join(work, "logs"), exist_ok=True)
    expected = os.path.join(build.HERE, "expected", "pipeline_suite.tsv")
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-XX:-UsePerfData", "-Xms3g", "-Xmx3g", "-Xss8m", "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", classpath, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--fixture", fixture, "--expected", expected,
            "--record", "1" if a.record else "0"]
    limit = RECORD_TIMEOUT_S if a.record else JVM_TIMEOUT_S
    log = os.path.join(work, "logs", "%s_seed%d_trace%d.log" % (a.workload, a.seed, a.trace))
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True, cwd=build.ROOT)
        try:
            out, _ = p.communicate(timeout=limit)
        except subprocess.TimeoutExpired:
            p.kill()
            p.communicate()
            sys.stderr.write("harness timed out after %d s; log: %s\n" % (limit, log))
            return 1
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if p.returncode != 0 or len(lines) < 2:
        sys.stderr.write("harness failed (exit %d); log: %s\n" % (p.returncode, log))
        with open(log) as fh:
            sys.stderr.writelines(l for l in fh if l.startswith(("failed operations:", "Exception", "self-check")))
        sys.stderr.write(out[-2000:])
        return 1
    result = json.loads(lines[-1])
    print(lines[-2])
    print(json.dumps(result))
    if not result["correct"]:
        sys.stderr.write("wrong results: see the failures in the detail line\n")
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
