#!/usr/bin/env python3
"""graft's benchmark: one run of one workload.

    python3 perfbench/run.py --workload driver_heavy --seed 1 --seconds 5 --trace 0

Run from the root of a graft checkout. The first run builds the engine and
the harness (perfbench/build.sbt, an offline sbt build over the engine at
the repo root) and keeps the runtime classpath in .perfbench_build/; every
run then launches the harness as a plain JVM (graft.bench.PerfBench) with
its working, Spark-local and service directories under .perfbench_work/,
so nothing lands in tracked files.

The last line of standard output is one JSON object: correct, attempted,
failed and metrics (the end-to-end metrics with --trace 0, the per-layer
metrics with --trace 1). The line before it names every metric with its
unit for people reading the log. Extra flags, for the benchmark's own
tests and for refreshing reference values:

    --scale tiny      run on perfbench/data/sf0.001, no warm-up, one pass
    --corrupt OP      perturb OP's reference value (expect a failed op)
    --record          print reference values for the workload's data
    --dump DIR        with --record: also digest a graft.Verify dump of the
                      same queries (see perfbench/refs.json's verify_dump)
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".perfbench_build")
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("driver_heavy", "relational_short", "dedup_maintain")
DATA = {"full": "sf0.01", "tiny": "sf0.001"}
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700  # with JVM_TIMEOUT_S, inside 900 s for a first, building run

# Spark 4 on JDK 17 outside spark-submit (the engine's build.sbt sets the same)
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
    """Hash of every input of the build, so a changed tree is rebuilt."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Build once per source state; return the harness's runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("no graft sources next to perfbench/ (run from a graft checkout)")
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    with open(os.path.join(BUILD, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp()
        if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
            with open(stamp_file) as f:
                if f.read().strip() == stamp:
                    with open(cp_file) as g:
                        return g.read().strip()
        sbt = shutil.which("sbt")
        if sbt is None:
            fail("sbt is not on PATH")
        env = dict(os.environ)
        opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["COURSIER_MODE"] = "offline"
        env["SBT_OPTS"] = " ".join(opts)
        log_path = os.path.join(BUILD, "build.log")
        with open(log_path, "w") as log:
            proc = subprocess.Popen(
                [sbt, "--batch", "-Dsbt.log.noformat=true",
                 "export perfbench/Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, start_new_session=True)
            code = wait(proc, BUILD_TIMEOUT_S)
        with open(log_path) as f:
            lines = [l.strip() for l in f if l.strip()]
        classes = os.path.join(HERE, "target", "scala-2.13", "classes")
        if code != 0 or not lines or not lines[-1].startswith(classes):
            sys.stderr.write("".join(l + "\n" for l in lines[-30:]))
            fail(f"build failed (exit {code}); log in {log_path}")
        with open(cp_file, "w") as f:
            f.write(lines[-1])
        with open(stamp_file, "w") as f:
            f.write(stamp)
        return lines[-1]


def wait(proc, timeout):
    """Wait for a child started in its own session. On timeout, or when this
    process is told to stop, kill the child's whole group and reap it."""
    def kill():
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()

    def stop(signum, _frame):
        kill()
        sys.exit(128 + signum)

    stops = (signal.SIGTERM, signal.SIGINT, signal.SIGHUP)
    previous = {s: signal.signal(s, stop) for s in stops}
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        kill()
        return -9
    finally:
        for s, h in previous.items():
            signal.signal(s, h)


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def fmt(v):
    return f"{v:.6g}"


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(DATA), default="full")
    ap.add_argument("--corrupt")
    ap.add_argument("--record", action="store_true")
    ap.add_argument("--dump")
    a = ap.parse_args()

    classpath = build()
    data = os.path.join(HERE, "data", DATA[a.scale])
    refs = os.path.join(HERE, "refs.json")
    run_dir = os.path.join(WORK, "run")
    tmp = os.path.join(WORK, "tmp")
    for d in (run_dir, tmp):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    out = os.path.join(WORK, "result.json")
    if os.path.exists(out):
        os.remove(out)

    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(cpus())
    env["SPARK_LOCAL_DIRS"] = tmp
    env["SPARK_GRAFT_CONF"] = ";".join([
        f"spark.local.dir={tmp}",
        f"spark.sql.warehouse.dir={os.path.join(run_dir, 'spark-warehouse')}",
        f"spark.hadoop.hadoop.tmp.dir={tmp}",
    ])
    cmd = ["java", *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-Xmx3g", "-Xss16m", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", classpath, "graft.bench.PerfBench",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--data", data, "--refs", refs,
           "--work", run_dir, "--out", out]
    if a.scale == "tiny":
        cmd.append("--tiny")
    if a.corrupt:
        cmd += ["--corrupt", a.corrupt]
    if a.record:
        cmd.append("--record")
        if a.dump:
            cmd += ["--dump", os.path.abspath(a.dump)]
    log_path = os.path.join(WORK, "jvm.log")
    t0 = time.time()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        code = wait(proc, JVM_TIMEOUT_S)
    shutil.rmtree(tmp, ignore_errors=True)
    if code != 0 or not os.path.isfile(out):
        with open(log_path, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"harness exited {code} after {time.time() - t0:.0f}s; log in {log_path}", 1)
    with open(out) as f:
        r = json.load(f)
    shutil.rmtree(run_dir, ignore_errors=True)

    if a.record:
        print(json.dumps({DATA[a.scale]: r}, indent=1, sort_keys=True))
        return

    attempted, failed = int(r["attempted"]), int(r["failed"])
    s = r["summary"]
    e2e = r["end_to_end"]
    parts = [f"{k}={fmt(v['value'])} {v['unit']}" for k, v in e2e.items()]
    parts.append(f"op_p50_s={fmt(s['op_p50_s'])} s")
    parts.append(f"op_p{int(s['op_tail_percentile'])}_s={fmt(s['op_tail_s'])} s")
    parts.append(f"failed_frac={fmt(s['failed_frac'])} ({failed}/{attempted})")
    parts.append(f"peak_rss_mb={fmt(s['peak_rss_mb'])} MB")
    if "stored_bytes_per_input_byte" in s:
        parts.append(f"stored_bytes_per_input_byte={fmt(s['stored_bytes_per_input_byte'])} B/B")
    for msg in r.get("failures", []):
        print(f"perfbench failure: {msg}")
    print(f"perfbench {a.workload} seed={a.seed} trace={a.trace} data={DATA[a.scale]} "
          f"passes={int(r['passes'])} ops={int(r['ops'])}: " + ", ".join(parts))
    metrics = r["per_layer"] if a.trace else e2e
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
