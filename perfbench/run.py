#!/usr/bin/env python3
"""Repository benchmark: build the program from source, run one workload
in a fresh JVM, and print the result JSON as the last stdout line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. The first run builds with sbt (offline)
and caches the classpath under .bench_build/perfbench, keyed by a hash of
the build and main sources. Each run writes an artifact directory under
.bench_build/perfbench/artifacts: run.json (host facts, inputs, every
pass and its checks) and, when traced, spans.jsonl and layers.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
MAIN = "graft.perfbench.PerfBench"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 needs these outside spark-submit (the same list the
# sbt build passes to forked runs and tests).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    files = ["build.sbt"] + [os.path.join("project", f) for f in os.listdir("project")
                             if f.endswith((".sbt", ".scala", ".properties"))]
    for d, _, fs in os.walk(os.path.join("src", "main")):
        files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt and return the runtime classpath (cached)."""
    os.makedirs(BUILD, exist_ok=True)
    stamp_f, cp_f = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if os.path.isfile(stamp_f) and os.path.isfile(cp_f):
        with open(stamp_f) as a, open(cp_f) as b:
            if a.read() == stamp:
                return b.read().strip()
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "SBT_OPTS" not in env and os.path.isfile(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g "
                           f"-Dsbt.repository.config={repos}")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                stdout=out, stderr=subprocess.STDOUT, env=env, timeout=BUILD_TIMEOUT_S,
                stdin=subprocess.DEVNULL).returncode
        except subprocess.TimeoutExpired:
            fail(f"build timed out after {BUILD_TIMEOUT_S} s, see {log}")
    if rc != 0:
        fail(f"build failed (exit {rc}), see {log}")
    with open(log) as fh:
        cps = [l.strip() for l in fh if os.pathsep in l and "classes" in l
               and not l.startswith("[")]
    if not cps:
        fail(f"no classpath in the build output, see {log}")
    with open(cp_f, "w") as fh:
        fh.write(cps[-1])
    with open(stamp_f, "w") as fh:
        fh.write(stamp)
    return cps[-1]


def run_jvm(cp, args, work, out_dir, timeout):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              "-Duser.timezone=UTC", "-cp", cp, MAIN]
           + args + ["--work", work, "--out", out_dir])
    err_path = os.path.join(out_dir, "stderr.log")
    with open(err_path, "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err,
                             stdin=subprocess.DEVNULL, start_new_session=True, text=True)

        def stop(signum, _frame):
            # the JVM runs in its own session: take it (and any scaling
            # leg it started) down with us
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.exit(128 + signum)
        for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
            signal.signal(sig, stop)
        try:
            stdout, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"run timed out after {timeout} s, see {err_path}", 3)
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if p.returncode != 0:
        with open(err_path) as fh:
            tail = fh.readlines()[-30:]
        sys.stderr.write("".join(tail))
        fail(f"benchmark JVM exited {p.returncode}, see {err_path}", p.returncode or 1)
    return stdout


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile("build.sbt") and os.path.isdir(os.path.join("src", "main", "scala", "graft", "pipeline"))):
        fail("run from the repository root: build.sbt and the program sources are missing")
    with open("BENCHMARK.json") as fh:
        names = [w["name"] for w in json.load(fh)["workloads"]]
    if a.workload not in names:
        fail(f"unknown workload {a.workload}; one of {', '.join(names)}")

    cp = build()
    stamp = time.strftime("%Y%m%dT%H%M%S")
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}-{stamp}-{os.getpid()}"
    work = os.path.join(BUILD, "work", tag)
    out_dir = os.path.join(BUILD, "artifacts", tag)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace)]
    try:
        stdout = run_jvm(cp, args, work, out_dir, RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.strip()]
    if not lines:
        fail("the benchmark printed no result", 1)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line", 1)
    print(f"artifacts: {os.path.relpath(out_dir, ROOT)}")
    print(lines[-1])


if __name__ == "__main__":
    main()
