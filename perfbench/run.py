#!/usr/bin/env python3
"""Pipeline benchmark entry point.

Builds the benchmark (its own sbt build in this directory, compiling the
repository's main sources with it) once per source state, then runs one
measurement in a fresh JVM:

    python3 perfbench/run.py --workload etl_cold --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Run from the root of a checkout. Everything it writes stays inside the
checkout: the sbt build under perfbench/target and perfbench/project, the
run's inputs and outputs under .bench_work (deleted when the run ends).
The last line of standard output is the result object; the exit code is
not 0, and no result is printed, when the build or the run fails.
"""
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

BENCH = "perfbench"
WORK = ".bench_work"
STAMP = os.path.join(BENCH, "target", "bench-build.json")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
JVM_HEAP = "3g"

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
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Content hash of everything the build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(BENCH, "src"), os.path.join("src", "main")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, cwd, env, timeout, stdout, stderr):
    """Runs cmd in its own process group. On timeout, and after it exits,
    kills whatever is left of the group and waits until it is gone, so no
    helper process outlives the call. Returns (exit code or None on
    timeout, captured stdout)."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout,
                         stderr=stderr, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
        code = p.returncode
    except subprocess.TimeoutExpired:
        out, code = None, None
    for _ in range(100):
        p.poll()
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            break
        time.sleep(0.1)
    p.wait()
    return code, out


def build():
    """Returns the runtime classpath, building first when sources changed."""
    digest = source_digest()
    if os.path.isfile(STAMP):
        with open(STAMP) as fh:
            stamp = json.load(fh)
        if stamp.get("digest") == digest:
            return stamp["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    code, out = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        BENCH, env, BUILD_TIMEOUT_S, subprocess.PIPE, subprocess.STDOUT)
    text = (out or b"").decode("utf-8", "replace")
    cp = [l for l in text.splitlines()
          if not l.startswith("[") and "scala-2.13/classes" in l]
    if code != 0 or not cp:
        sys.stderr.write(text[-4000:])
        fail("build failed" if code is not None else "build timed out")
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(STAMP, "w") as fh:
        json.dump({"digest": digest, "classpath": cp[-1].strip()}, fh)
    return cp[-1].strip()


def main(argv):
    if not (os.path.isfile(os.path.join(BENCH, "build.sbt")) and
            os.path.isdir(os.path.join("src", "main", "scala", "graft",
                                       "cnpj"))):
        fail("run from the root of a checkout holding the program's "
             "sources (src/main/scala) and perfbench/")
    selftest = "--selftest" in argv
    if not selftest:
        keys = argv[0::2]
        for k in ("--workload", "--seed", "--seconds", "--trace"):
            if k not in keys:
                fail(f"missing {k}")
    cp = build()
    tmp = os.path.abspath(os.path.join(WORK, "tmp"))
    os.makedirs(tmp, exist_ok=True)
    jvm = ["java", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        jvm += ["--add-opens", f"{p}=ALL-UNNAMED"]
    tag = "selftest" if selftest else "-".join(argv[1::2])
    log_path = os.path.join(WORK, f"jvm-{tag}.log")
    with open(log_path, "wb") as log:
        code, out = run_group(
            jvm + ["-cp", cp, "graft.perfbench.Main", "--work", WORK] + argv,
            ".", dict(os.environ), RUN_TIMEOUT_S, subprocess.PIPE, log)
    lines = (out or b"").decode("utf-8", "replace").splitlines()
    if code != 0:
        with open(log_path, "rb") as fh:
            sys.stderr.write(fh.read()[-6000:].decode("utf-8", "replace"))
        sys.stderr.write("\n".join(lines) + "\n")
        fail("run timed out" if code is None else f"run exited {code}")
    os.remove(log_path)
    if selftest:
        print("\n".join(lines))
        return
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        sys.stderr.write("\n".join(lines) + "\n")
        fail("run printed no result")
    print("\n".join(lines[:-1]))
    print(json.dumps(result))


if __name__ == "__main__":
    main(sys.argv[1:])
