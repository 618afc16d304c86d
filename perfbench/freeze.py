#!/usr/bin/env python3
"""Freeze the engine workloads' row lists and their golden fingerprints.

    python3 perfbench/freeze.py census   # classify every SparkEntry row
    python3 perfbench/freeze.py golden   # record + cross-check fingerprints

`census` runs every query once on the benchmark's engine tables with
public listeners attached and writes the row lists of the engine
workload into workloads.json, chosen by observable properties only:

  stream     rows that ran streaming micro-batches;
  iterative  rows that launched at least ITERATIVE_JOBS Spark jobs and
             neither streamed nor wrote bytes through an output.

`golden` fingerprints every listed row (perfbench.Fingerprint), dumps its
result, re-runs the row's SparkEntry.oracleSql in DuckDB on the same
tables and compares values the way tools/selfcheck.py does (columns by
name, rows sorted, floats rounded to 9 places). Only rows whose Spark
result agrees with DuckDB get a golden fingerprint; a disagreement or a
row without oracle SQL is reported and the command fails.

Run from the root of a checkout; it builds like run.py does.
"""
import json
import os
import subprocess
import sys
import time

import run

ITERATIVE_JOBS = 23
ENGINE = "engine_iterative_stream"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def harness(mode, extra):
    classpath, jvm_opts, _ = run.build(time.time() + 900)
    engine_dir = os.path.join(run.BUILD, "data", f"engine_sf{run.ENGINE_SF}")
    run.gen_engine.ensure(engine_dir, run.ENGINE_SF)
    work = os.path.join(run.BUILD, "freeze", mode)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    out = os.path.join(work, "result.json")
    cmd = ["java"] + jvm_opts + [f"-Xms{run.HEAP}", f"-Xmx{run.HEAP}", f"-Djava.io.tmpdir={work}/tmp",
                                 "-cp", classpath, "perfbench.Harness", f"mode={mode}",
                                 f"data={engine_dir}", f"work={work}", f"out={out}"] + extra
    with open(os.path.join(work, "harness.log"), "w") as log:
        subprocess.run(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT, check=True)
    with open(out) as f:
        return json.load(f), engine_dir, work


def census():
    res, _, _ = harness("census", [])
    rows = res["rows"]
    broken = [r["name"] for r in rows if r["error"]]
    if broken:
        sys.exit(f"rows failed during the census: {broken}")
    stream = sorted(r["name"] for r in rows if r["stream_batches"] > 0)
    iterative = sorted(r["name"] for r in rows if r["jobs"] >= ITERATIVE_JOBS
                       and r["stream_batches"] == 0 and r["output_bytes"] == 0)
    path = os.path.join(run.HERE, "workloads.json")
    with open(path) as f:
        spec = json.load(f)
    groups = spec[ENGINE]
    groups["iterative"], groups["stream"] = iterative, stream
    with open(path, "w") as f:
        json.dump(spec, f, indent=2)
        f.write("\n")
    by = {r["name"]: r for r in rows}
    for name, names in groups.items():
        secs = sum(by[n]["seconds"] for n in names)
        print(f"{name}: {len(names)} rows, {secs:.1f} s in the census")
        for n in names:
            r = by[n]
            print(f"  {n:32s} jobs={r['jobs']:3d} batches={r['stream_batches']:3d} "
                  f"written={r['output_bytes']:8d} {r['seconds']:.2f} s")


def norm(v):
    if v is None:
        return (0, "")
    if isinstance(v, float):
        return (1, str(round(v, 9)))
    return (1, str(v))


def golden():
    import duckdb
    import pyarrow.parquet as pq
    with open(os.path.join(run.HERE, "workloads.json")) as f:
        spec = json.load(f)
    names = sorted(run.engine_rows(spec[ENGINE]))
    res, engine_dir, work = harness("record", ["rows=" + ",".join(names)])
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{engine_dir}/{t}.parquet')")
    gold, problems = {}, []
    for r in res["rows"]:
        name = r["name"]
        if "error" in r:
            problems.append(f"{name}: spark error {r['error']}")
            continue
        if not r["oracle"]:
            problems.append(f"{name}: no oracle SQL")
            continue
        spark = pq.read_table(os.path.join(work, "record", name))
        duck = con.execute(r["oracle"]).fetch_arrow_table()
        s_cols, d_cols = sorted(spark.column_names), sorted(duck.column_names)
        if s_cols != d_cols:
            problems.append(f"{name}: columns spark={s_cols} duckdb={d_cols}")
            continue
        s_rows = sorted(tuple(norm(v) for v in row) for row in
                        zip(*[spark.column(c).to_pylist() for c in s_cols]))
        d_rows = sorted(tuple(norm(v) for v in row) for row in
                        zip(*[duck.column(c).to_pylist() for c in d_cols]))
        if s_rows != d_rows:
            problems.append(f"{name}: spark and duckdb values differ "
                            f"({len(s_rows)} vs {len(d_rows)} rows)")
            continue
        gold[name] = r["fingerprint"]
        print(f"  {name:32s} {len(s_rows):6d} rows  {r['fingerprint']}")
    with open(os.path.join(run.HERE, "golden.json"), "w") as f:
        json.dump(gold, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"{len(gold)}/{len(names)} rows agree with DuckDB")
    if problems:
        sys.exit("\n".join(problems))


if __name__ == "__main__":
    {"census": census, "golden": golden}[sys.argv[1]]()
