#!/usr/bin/env python3
"""Run one benchmark workload against the library in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Builds the harness together with the library's sources (sbt, offline) the
first time and whenever a source changes, then runs the measurement in a
fresh JVM under a scratch root inside the checkout (`.bench_build/`), which
is removed afterwards. The last line of standard output is the JSON result.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    dirs = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files.extend(os.path.join(base, n) for n in names)
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt(*commands):
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", *commands], cwd=HERE,
                          env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)


def build():
    """The runtime classpath, compiling first if any source changed."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the library's sources (src/main/scala/graft) are not in this checkout")
    os.makedirs(BUILD, exist_ok=True)
    cp_file, stamp_file = os.path.join(BUILD, "classpath"), os.path.join(BUILD, "stamp")
    want = stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == want:
                with open(cp_file) as fh:
                    return fh.read()
    r = sbt("compile", "export Runtime/fullClasspath")
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout)
        fail("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return cp


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload")
    p.add_argument("--seed", type=int)
    p.add_argument("--seconds", type=float)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--self-test", action="store_true", help="run the harness's own tests")
    a = p.parse_args()
    if a.self_test:
        build()
        r = sbt("test")
        sys.stdout.write(r.stdout)
        sys.exit(r.returncode)
    if a.workload is None or a.seed is None or a.seconds is None:
        p.error("--workload, --seed and --seconds are required")
    cp = build()
    scratch = os.path.join(BUILD, f"run-{a.workload}-{os.getpid()}")
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout. A fixed, pre-touched heap: a growing
    # heap's size, and with it the collection rate and the resident set, follows GC timing from run to run
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData", *[x for m in ADD_OPENS for x in ("--add-opens", f"{m}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.sql.warehouse.dir={os.path.join(scratch, 'warehouse')}",
           "-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace), "--root", scratch]
    if a.trace:
        cmd += ["--trace-out", os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}.jsonl")]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(scratch, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    shutil.rmtree(scratch, ignore_errors=True)
    sys.stdout.write(out)
    if proc.returncode != 0:
        fail(f"benchmark exited with code {proc.returncode}")


if __name__ == "__main__":
    main()
