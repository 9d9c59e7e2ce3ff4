#!/usr/bin/env python3
"""Run one benchmark workload against the library in this checkout.

    python3 perfbench/run.py --workload fetch --seed 1 --seconds 10 --trace 0

Builds the benchmark (its own sbt project, which compiles the library's
sources from the checkout root) when the sources changed since the last
build, then runs the workload in one JVM under a run-scoped directory
that is deleted at exit. The last line of standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics, with --trace 1
the per-layer metrics. The line before it (prefixed "report: ") holds
every named metric, the set-up steps and the run's environment.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("fetch", "batch", "ingest")
HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

# Spark on JDK 17 needs these when it is not started by spark-submit
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, relative to the checkout root."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def tool_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    if "SPARK_HOME" not in env:
        submit = shutil.which("spark-submit")
        if submit:
            env["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return env


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; on timeout stop the whole group
    and wait for it. Returns (returncode or None on timeout, stdout)."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        stop_group(p)
        return None, None
    finally:
        if p.poll() is None:
            stop_group(p)


def stop_group(p):
    for sig, wait in ((signal.SIGTERM, 10), (signal.SIGKILL, 30)):
        try:
            os.killpg(p.pid, sig)
        except ProcessLookupError:
            pass
        try:
            p.wait(timeout=wait)
            return
        except subprocess.TimeoutExpired:
            continue


def classpath():
    """The runtime classpath, rebuilt when any source changed."""
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    want = stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == want:
                with open(cp_file) as g:
                    return g.read().strip(), want
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        code, out = run_group(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            BUILD_TIMEOUT_S, cwd=HERE, env=tool_env(), stdout=subprocess.PIPE,
            stderr=log, text=True)
        if out:
            log.write(out)
    if code != 0:
        die(f"build failed (exit {code}); see {log_path}", 1)
    lines = [l.strip() for l in out.splitlines() if "scala-library" in l]
    if not lines:
        die(f"build printed no classpath; see {log_path}", 1)
    cp = lines[-1]
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(want)
    return cp, want


def main():
    # a stopped run stops its JVM and removes its run directory too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="also write the report and result here (JSON)")
    ap.add_argument("--spans", help="write the traced run's spans here (JSON lines)")
    ap.add_argument("--write-digests", help="batch: write the observed output digests here")
    args = ap.parse_args()

    for need in (os.path.join(ROOT, "build.sbt"),
                 os.path.join(ROOT, "src", "main", "scala", "graft")):
        if not os.path.exists(need):
            die(f"no library sources in this checkout ({os.path.relpath(need, ROOT)} missing)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java must be on PATH")

    cp, built = classpath()
    # input tables depend on the code only: generated by the first run
    # of a build, read by every later one; older builds' tables go
    fixture = os.path.join(BUILD, f"fixture-{built[:16]}")
    for old in os.listdir(BUILD):
        if old.startswith("fixture-") and os.path.join(BUILD, old) != fixture:
            shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
    run_dir = os.path.join(ROOT, ".bench_build", "runs",
                           f"{args.workload}-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    extra = []
    for flag in ("spans", "write_digests"):
        v = getattr(args, flag)
        if v is not None:
            extra += ["--" + flag.replace("_", "-"), os.path.abspath(v)]
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    cmd = [java, f"-Xmx{HEAP}"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Duser.timezone=UTC",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--run-dir", run_dir, "--fixture-dir", fixture] + extra
    budget = RUN_TIMEOUT_S
    try:
        code, out = run_group(cmd, budget, cwd=run_dir, env=tool_env(),
                              stdout=subprocess.PIPE, text=True)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if code is None:
        die(f"workload {args.workload} did not finish within {budget:.0f} s", 3)
    report = result = None
    for line in (out or "").splitlines():
        if line.startswith("PERFBENCH_REPORT "):
            report = json.loads(line[len("PERFBENCH_REPORT "):])
        elif line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
        else:
            print(line)
    if code != 0 or result is None:
        die(f"workload {args.workload} exited with {code} and no result", 1)
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"report": report, "result": result}, f, indent=1)
    print("report: " + json.dumps(report))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
