#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

Run from the root of a graft checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The run builds graft and the load generator from source (once per
checkout, cached under .bench_build/), generates the input tables from the
seed, launches one JVM that warms up and then calls graft's queries in a
closed loop for the given seconds, checks every query's result against its
DuckDB oracle SQL (untimed, with tools/check.py), and prints one JSON line:
the end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
"""
import argparse
import contextlib
import hashlib
import importlib.util
import io
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gendata  # noqa: E402
import metrics  # noqa: E402

# Input size: the generator's scale factor (1.0 ~ TPC-H sf1 row counts).
SCALE = 0.01
RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 850
# the same offline sbt settings graft's own test tier uses
SBT_OPTS = ("-Dsbt.override.build.repos=true -Dsbt.repository.config="
            + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx4g")
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def heap_size():
    """Half of physical memory, clamped to 2-8 GiB (graft's test-tier rule)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def cpu_count():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def source_digest(root):
    """Hash of everything the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    bench = os.path.relpath(HERE, root)
    for base in ["build.sbt", "project/build.properties", "src/main",
                 f"{bench}/build.sbt", f"{bench}/project/build.properties", f"{bench}/src"]:
        path = os.path.join(root, base)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, build_dir):
    """Compile graft and the load generator; return the runtime classpath."""
    stamp = os.path.join(build_dir, "classpath.json")
    digest = source_digest(root)
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached.get("digest") == digest:
            return cached["classpath"]
    log("building graft and the load generator with sbt (first run in this checkout)")
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", SBT_OPTS)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_TIMEOUT_S)
    lines = proc.stdout.splitlines()
    cp = [l for l in lines if ".jar" in l and not l.startswith("[")]
    if proc.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("sbt build failed")
    os.makedirs(build_dir, exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp[-1].strip()}, f)
    return cp[-1].strip()


def inputs(build_dir, seed, scale):
    """The seeded input tables, generated once per (seed, scale)."""
    out = os.path.join(build_dir, "data", f"sf{scale}-seed{seed}")
    if not os.path.exists(os.path.join(out, "_done")):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gendata.generate(seed, scale, tmp)
        open(os.path.join(tmp, "_done"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    return out


def inventory(path):
    """(relative path, size, mtime) of every file under path."""
    return sorted((os.path.relpath(os.path.join(d, f), path),
                   os.path.getsize(os.path.join(d, f)),
                   os.path.getmtime(os.path.join(d, f)))
                  for d, _, fs in os.walk(path) for f in fs)


def check_outputs(root, data, verify_dir, oracle_sql):
    """Compare each dumped result with its DuckDB oracle using
    tools/check.py; return {query: failure line} for the mismatches."""
    os.makedirs(verify_dir, exist_ok=True)
    with open(os.path.join(verify_dir, "oracle_sql.json"), "w") as f:
        json.dump(oracle_sql, f)
    spec = importlib.util.spec_from_file_location("graft_check", os.path.join(root, "tools", "check.py"))
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        check.main(data, verify_dir)
    bad = {}
    for line in buf.getvalue().splitlines():
        if line.startswith("FAIL "):
            bad[line[5:].split(":", 1)[0]] = line
    return bad


def launch(classpath, run_dir, data, args, deadline):
    launched_ms = int(time.time() * 1000)
    # a fixed heap: with -Xms below -Xmx, heap growth timing made run-to-run RSS and op times wander
    heap = heap_size()
    cmd = (["java", f"-Xms{heap}", f"-Xmx{heap}"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={run_dir}/tmp", f"-Dspark.local.dir={run_dir}/spark-local",
              f"-Dspark.sql.warehouse.dir={run_dir}/warehouse", f"-Dderby.system.home={run_dir}",
              "-cp", classpath, "graftbench.Main",
              "--workload", args.workload, "--data", data, "--out", run_dir,
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cpus", str(cpu_count()), "--launched-at-ms", str(launched_ms)])
    env = dict(os.environ, SPARK_GRAFT_INDEX_ROOT=os.path.join(run_dir, "index-root"))
    for d in ["tmp", "spark-local", "warehouse", "index-root"]:
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=logf, stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"load generator exceeded the run time limit; see {run_dir}/jvm.log", 1)
    if proc.returncode != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        fail(f"load generator exited with {proc.returncode}", 1)


def main():
    ap = argparse.ArgumentParser(description="graft benchmark run")
    ap.add_argument("--workload", required=True, choices=sorted(metrics.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=SCALE, help="input scale factor")
    args = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isfile(os.path.join(root, "src/main/scala/graft/SparkEntry.scala"))
            and os.path.isfile(os.path.join(root, "tools/check.py"))):
        fail("run from the root of a graft checkout (build.sbt, src/ and tools/check.py missing)")
    build_dir = os.path.join(root, ".bench_build")
    classpath = build(root, build_dir)
    started = time.time()
    data = inputs(build_dir, args.seed, args.scale)

    runs = os.path.join(build_dir, "runs")
    shutil.rmtree(runs, ignore_errors=True)
    run_dir = os.path.join(runs, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    os.makedirs(run_dir)
    repo_index = os.path.join(root, "target", "index")
    index_before = inventory(repo_index)

    launch(classpath, run_dir, data, args, started + RUN_TIMEOUT_S)
    with open(os.path.join(run_dir, "result.json")) as f:
        result = json.load(f)
    undumped = [q for q, ok in result["verify"].items() if not ok]
    mismatched = check_outputs(root, data, os.path.join(run_dir, "verify"), result["oracle_sql"])
    for q, line in mismatched.items():
        log(f"oracle mismatch: {line}")
    index_intact = inventory(repo_index) == index_before
    if not index_intact:
        log("the checkout's own target/index changed during the run")

    ops = result["ops"]
    wrong = set(mismatched) | set(undumped)
    failed = sum(1 for o in ops if not o["ok"] or o["query"] in wrong)
    if args.trace:
        values = metrics.per_layer(result)
        values["error_frac"] = failed / max(1, len(ops))
    else:
        values = metrics.end_to_end(result)
    units = metrics.units(args.trace)
    out = {
        "correct": failed == 0 and not wrong and index_intact and len(ops) > 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
