#!/usr/bin/env python3
"""Connector-sync benchmark.

    python3 syncbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the library and the
benchmark with sbt (offline, from the local caches); later runs start the
JVM straight from the recorded classpath. The last line of standard output
is one JSON result. TPC-H parquet tables are read from $SYNCBENCH_TPCH
(default ~/testdata), which holds sf0.01/ and sf0.1/.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CLASSPATH = os.path.join(HERE, "target", "bench-classpath.txt")
STATE = os.path.join(ROOT, ".syncbench")
JAVA_TIMEOUT_S = 170

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
    print(f"syncbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_child(cmd, cwd, timeout, env=None):
    """Run `cmd` in its own process group; on timeout, error or SIGTERM kill
    the whole group and wait for it. Returns (exit code, stdout)."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def sources():
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, files in os.walk(base):
            for f in files:
                yield os.path.join(d, f)
    for f in ("build.sbt", os.path.join("syncbench", "build.sbt")):
        yield os.path.join(ROOT, f)


def stale():
    if not os.path.exists(CLASSPATH):
        return True
    built = os.path.getmtime(CLASSPATH)
    return any(os.path.exists(f) and os.path.getmtime(f) > built
               for f in sources())


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no library sources next to {HERE}; run from a full checkout")
    if shutil.which("sbt") is None:
        fail("sbt not found")
    code, out = run_child(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"], HERE, 840, sbt_env())
    lines = [l for l in out.splitlines() if l.strip()]
    sys.stderr.write(out)
    if code != 0 or not lines or lines[-1].startswith("["):
        fail("build failed")
    os.makedirs(os.path.dirname(CLASSPATH), exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1].strip())


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    args = ap.parse_args()

    tpch = os.environ.get("SYNCBENCH_TPCH", os.path.expanduser("~/testdata"))
    if not os.path.isdir(tpch):
        fail(f"no TPC-H tables at {tpch} (set SYNCBENCH_TPCH)")
    if stale():
        build()
    with open(CLASSPATH) as f:
        classpath = f.read().strip()

    work = os.path.join(STATE, f"work-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # C1 only: with C2, runs of one workload settled at speeds up to 40%
    # apart from JVM to JVM (profile-driven compilation), see README.
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:TieredStopAtLevel=1",
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dspark.local.dir={work}/spark-local",
            f"-Dspark.sql.warehouse.dir={work}/warehouse",
            "-Dderby.system.home=" + os.path.join(work, "derby")]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "syncbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", args.trace,
              "--tpch", tpch, "--work", os.path.join(work, "jobs"),
              "--traces", os.path.join(STATE, "traces")])
    try:
        code, out = run_child(cmd, work, JAVA_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {JAVA_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(out)
        fail(f"run failed (exit {code})")
    sys.stderr.write("\n".join(lines[:-1]) + ("\n" if len(lines) > 1 else ""))
    print(lines[-1])


if __name__ == "__main__":
    main()
