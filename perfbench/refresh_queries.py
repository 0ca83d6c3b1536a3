#!/usr/bin/env python3
"""Rebuild perfbench/queries.json: the expected digest and warm cost of
every registered query over the benchmark's fixed data set.

Usage (from the repository root): python3 perfbench/refresh_queries.py

Runs every query twice in one session (a cold and a warm round), keeps
the warm latency as the query's cost (the sweep cuts its strata from
it) and its digest as the expected output. A query whose two digests
differ is reported and left out of the table, so the benchmark counts
it as a failure instead of hiding it. Takes about 15 minutes on 4 cores.
"""
import json
import os
import shutil
import subprocess
import sys
import time

import run


def main():
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    jars = run.spark_jars()
    classes = run.build(build_dir, jars)
    data = run.tables(build_dir)
    run_dir = os.path.join(build_dir, "runs", "refresh-queries")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    cmd = (["java", "-Xmx3g", f"-Djava.io.tmpdir={run_dir}/tmp"] +
           [x for p in run.ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", f"{classes}:{jars}", "perfbench.Main", "workload=digests", "seed=0",
            "seconds=0", "trace=0", f"run_dir={run_dir}", f"data_dir={data}",
            f"cores={len(os.sched_getaffinity(0))}", f"bench_dir={run.HERE}",
            f"result={run_dir}/result.json", f"launched_ms={int(time.time() * 1000)}"])
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, check=True)
    write_table(os.path.join(run_dir, "digests.jsonl"))
    shutil.rmtree(run_dir, ignore_errors=True)


def write_table(digests_jsonl):
    rounds = {}
    with open(digests_jsonl) as f:
        for line in f:
            r = json.loads(line)
            rounds.setdefault(r["name"], {})[r["round"]] = r
    table, unstable = {}, []
    for name, rs in sorted(rounds.items()):
        a, b = rs.get(1), rs.get(2)
        if not a or not b or a["error"] or b["error"] or a["digest"] != b["digest"]:
            unstable.append((name, a and (a["error"] or a["digest"]), b and (b["error"] or b["digest"])))
            continue
        table[name] = {"cost_s": round(b["latency"], 4), "digest": b["digest"]}
    with open(os.path.join(run.HERE, "queries.json"), "w") as f:
        f.write("{\n" + ",\n".join(f"  {json.dumps(k)}: {json.dumps(v, sort_keys=True)}"
                                   for k, v in table.items()) + "\n}\n")
    for u in unstable:
        print("not in table:", *u, file=sys.stderr)
    print(f"{len(table)} queries written, {len(unstable)} left out", file=sys.stderr)


if __name__ == "__main__":
    main()
