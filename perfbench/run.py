#!/usr/bin/env python3
"""Benchmark of the query engine and the GitHub ETL pipeline.

Usage (from the repository root):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: query_sweep, query_iterative, etl_chunked, etl_dsv2 (see
perfbench/NOTES.md). The first run in a checkout compiles the engine
(src/main) together with the benchmark (perfbench/src) and generates the
query tables; both are cached under $CARGO_TARGET_DIR (default
.bench_build) and rebuilt when a source file changes. Each run gets a
fresh JVM with its own temp, output, checkpoint and warehouse
directories, removed when it ends.

The last line of stdout is one JSON object: correct, attempted, failed
and metrics. With --trace 0 the metrics are the end-to-end metrics of
BENCHMARK.json, with --trace 1 the per-layer metrics; the traced run
also prints its layer table to stderr.
"""
import argparse
import fcntl
import glob
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
WORKLOADS = ["query_sweep", "query_iterative", "etl_chunked", "etl_dsv2"]
SCALE = 0.1
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        try:  # the pyspark package ships the same jars
            import pyspark
            home = os.path.dirname(pyspark.__file__)
        except ImportError:
            fail("set SPARK_HOME or install pyspark")
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        fail(f"no Spark jars under {jars} (set SPARK_HOME)")
    return os.path.join(jars, "*")


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        fail(f"engine sources not found at {main}")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True) +
                   glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return files


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(build_dir, jars):
    """Compile engine + benchmark with the Scala compiler shipped in the
    Spark jars; skipped when the sources are unchanged."""
    files = sources()
    res = os.path.join(ROOT, "src", "main", "resources")
    res_files = sorted(p for p in glob.glob(os.path.join(res, "**"), recursive=True)
                       if os.path.isfile(p))
    stamp = digest(files + res_files + [os.path.abspath(__file__)])
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(classes, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr)
    argfile = os.path.join(build_dir, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    r = subprocess.run(["java", "-Xmx2g", "-Xss8m", "-cp", jars, "scala.tools.nsc.Main",
                        "-nowarn", "-d", tmp, "-classpath", jars, "@" + argfile])
    if r.returncode != 0:
        fail("compilation failed")
    if os.path.isdir(res):
        shutil.copytree(res, tmp, dirs_exist_ok=True)
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    return classes


def tables(build_dir):
    gen = os.path.join(HERE, "gen_tables.py")
    out = os.path.join(build_dir, f"data-sf{SCALE}")
    stamp = digest([gen])
    stamp_file = os.path.join(out, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    shutil.rmtree(out, ignore_errors=True)
    subprocess.run([sys.executable, gen, out + ".tmp", str(SCALE)], check=True)
    with open(os.path.join(out + ".tmp", ".stamp"), "w") as f:
        f.write(stamp)
    os.rename(out + ".tmp", out)
    return out


def layer_table(result):
    info = result.get("info", {})
    lines = ["layer table (self seconds per span name, summed over the run):"]
    for name, s in sorted(info.get("self_s", {}).items(), key=lambda kv: -kv[1]):
        lines.append(f"  {name:28s} {s:10.3f}")
    lines.append("jobs by call-site file:")
    for f, n in sorted(info.get("jobs_by_file", {}).items(), key=lambda kv: -kv[1]):
        lines.append(f"  {f:28s} {n:10d}")
    return "\n".join(lines)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--keep", action="store_true", help="keep the run directory")
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)),
                    help="Spark local[N] (default: every core this process may use)")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    jars = spark_jars()
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    with open(os.path.join(build_dir, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        classes = build(build_dir, jars)
        data = tables(build_dir)

    run_dir = os.path.join(build_dir, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    result_path = os.path.join(run_dir, "result.json")
    cmd = (["java", "-Xmx3g", f"-Djava.io.tmpdir={run_dir}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", f"{classes}:{jars}", "perfbench.Main",
            f"workload={a.workload}", f"seed={a.seed}", f"seconds={a.seconds}",
            f"trace={a.trace}", f"run_dir={run_dir}", f"data_dir={data}",
            f"cores={a.cores}", f"bench_dir={HERE}", f"result={result_path}"])
    log_path = os.path.join(run_dir, "jvm.log")
    try:
        with open(log_path, "w") as log:
            launched_ms = int(time.time() * 1000)
            proc = subprocess.Popen(cmd + [f"launched_ms={launched_ms}"], stdout=log,
                                    stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                                    start_new_session=True)
            try:
                rc = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                rc = None
            finally:
                # the JVM's process group includes the load generator
                try:
                    os.killpg(proc.pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
                proc.wait()
        if rc != 0 or not os.path.exists(result_path):
            with open(log_path) as log:
                sys.stderr.write(log.read()[-4000:])
            fail(f"benchmark JVM {'timed out' if rc is None else f'exited with {rc}'}")
        with open(result_path) as f:
            result = json.load(f)
    finally:
        if not a.keep:
            shutil.rmtree(run_dir, ignore_errors=True)

    info = result.get("info", {})
    print("perfbench: " + json.dumps({k: info[k] for k in (
        "setup_phases_s", "passes", "ops", "latency_s", "load_s", "rerun_s") if k in info}),
          file=sys.stderr)
    for msg in result.get("failures", []):
        print(f"perfbench: FAILED {msg}", file=sys.stderr)
    if a.trace:
        print(layer_table(result), file=sys.stderr)
        print("traced end-to-end (compare with an untraced run for the tracing overhead): " +
              json.dumps(result["e2e"]), file=sys.stderr)
    source = result["layers"] if a.trace else result["e2e"]
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    unknown = set(source) - {m["name"] for m in wanted}
    if unknown:
        fail(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    metrics = {m["name"]: {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    print(json.dumps({"correct": result["failed"] == 0, "attempted": int(result["attempted"]),
                      "failed": int(result["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
