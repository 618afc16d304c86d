#!/usr/bin/env python3
"""The repository's benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. The first run builds the program and
this benchmark's harness from source with sbt (offline) and generates
the engine tables; later runs reuse both. Everything the run writes goes
under .bench_build/ in the checkout.

One run is one fresh JVM on local[<cores>] driven through the program's
public functions by perfbench.Harness, in a closed loop with one caller:
passes (engine workloads) or pipeline iterations (imdb_pipeline) repeat
until --seconds are spent. The last line of stdout is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with every end-to-end metric of BENCHMARK.json (--trace 0), or every
per-layer metric (--trace 1). A fuller report, with the host
fingerprint, the drift probes and per-row numbers, goes to
.bench_build/reports/. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

import gen_engine
import gen_imdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")

DEADLINE_S = 170
ENGINE_SF = 0.01
HEAP = "3g"
DRIFT_RATIO = 1.5


def load_json(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


def die(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    pats = ["build.sbt", "project/*.properties", "project/*.sbt", "project/*.scala",
            "src/main/**/*", "perfbench/build.sbt", "perfbench/project/*.properties",
            "perfbench/src/**/*"]
    files = sorted({p for pat in pats for p in glob.glob(os.path.join(ROOT, pat), recursive=True)
                    if os.path.isfile(p)})
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(deadline):
    """Compile the program and the harness unless the sources are
    unchanged since the last build; return (classpath, jvm options, stamp)."""
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "build.stamp")
    launch = os.path.join(BUILD, "launch.json")
    if not (os.path.exists(stamp_file) and os.path.exists(launch)
            and open(stamp_file).read() == stamp):
        sbt_build(deadline, launch)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    with open(launch) as f:
        d = json.load(f)
    return d["classpath"], d["jvm_options"], stamp


def sbt_build(deadline, launch):
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    props = ["-Dsbt.log.noformat=true", "-Dsbt.offline=true",
             "-Dsbt.server.forcestart=false", "-Dsbt.boot.lock=false",
             f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        props += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(["sbt", "--batch"] + props + ["perfbench/benchLaunch"],
                                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                                timeout=max(30, deadline - time.time())).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0 or not os.path.exists(launch):
        with open(log) as f:
            sys.stderr.write(f.read()[-3000:])
        die(f"build failed (rc={rc}); see {log}")


# ---------------------------------------------------------------- host

def host_fingerprint(jvm):
    mem = ""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem = line.split()[1] + " kB"
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total": mem,
            "machine": platform.machine(), "jvm": jvm}


# ---------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def self_times(spans_path):
    """Self time per layer and per traced run: a span's duration minus the
    part its children cover. Layer = the span name up to the first dot."""
    spans = []
    if os.path.exists(spans_path):
        with open(spans_path) as f:
            spans = [json.loads(line) for line in f if line.strip()]
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        iv = sorted((max(c["start_ns"], s["start_ns"]), min(c["end_ns"], s["end_ns"]))
                    for c in kids.get(s["id"], []))
        covered, cur_s, cur_e = 0, None, None
        for a, b in iv:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        layer = s["name"].split(".")[0]
        per_run = out.setdefault(s["run"], {})
        per_run[layer] = per_run.get(layer, 0.0) + (s["end_ns"] - s["start_ns"] - covered) / 1e9
    return out


def check_imdb(iters, meta, labels):
    """Output checks per pipeline iteration; returns (failures, accuracy)."""
    failures, accs = [], []
    want = meta["cache_rows"] + meta["valid_uncached"]
    for it in iters:
        lines = []
        for p in sorted(glob.glob(os.path.join(it["out"], "predictions", "part-*"))):
            with open(p) as f:
                lines += [x.strip() for x in f if x.strip()]
        problems = []
        if len(lines) != len(labels):
            problems.append(f"{len(lines)} predictions for {len(labels)} validation movies")
        if any(x not in ("True", "False") for x in lines):
            problems.append("prediction outside {True, False}")
        acc = sum(1 for x, y in zip(lines, labels) if x == y) / max(1, len(labels))
        if acc < ACCURACY_BAR:
            problems.append(f"accuracy {acc:.4f} below {ACCURACY_BAR}")
        rows = 0
        for p in glob.glob(os.path.join(it["out"], "genre_cache", "part-*.csv")):
            with open(p) as f:
                rows += max(0, sum(1 for _ in f) - 1)
        if rows != want:
            problems.append(f"genre cache has {rows} rows, old + fresh is {want}")
        if problems:
            failures.append(problems)
        accs.append(acc)
    if len(set(accs)) > 1:
        failures.append([f"accuracy differs between iterations: {sorted(set(accs))}"])
    return failures, (accs[0] if accs else 0.0)


ACCURACY_BAR = 0.70


def summarize(workload, res, trace, golden, imdb_meta, labels, spans_path, untraced):
    """Return (correct, attempted, failed, e2e, layers, details)."""
    passes = res["passes"]
    details = {}
    if workload == "imdb_pipeline":
        fails, acc = check_imdb(passes, imdb_meta, labels)
        attempted, failed = len(passes), len(fails)
        correct = not fails
        details["check_failures"] = fails
        walls = lat = [p["wall_s"] for p in passes]
    else:
        rows = [r for p in passes for r in p["rows"]]
        errors = [r for r in rows if "error" in r]
        mismatched = [r for r in rows if "error" not in r
                      and golden.get(r["name"]) != r["fingerprint"]]
        attempted, failed = len(rows), len(errors) + len(mismatched)
        correct = not mismatched
        acc = (len(rows) - len(errors) - len(mismatched)) / max(1, len(rows) - len(errors))
        details["errors"] = sorted({f"{r['name']}: {r['error']}" for r in errors})
        details["mismatched"] = sorted({r["name"] for r in mismatched})
        walls = [p["wall_s"] for p in passes]
        lat = [r["total_s"] for p in passes for r in p["rows"]]
    details["latency_samples"] = len(lat)
    e2e = {
        "setup_s": res["setup"]["setup_s"],
        "wall_s": median(walls),
        "row_p50_s": median(lat),
        "ok_frac": (attempted - failed) / max(1, attempted),
        "driver_peak_rss_mb": res["peak_rss_mb"],
        "accuracy": acc,
    }
    layers = {}
    if trace:
        layers["trace.overhead_frac"] = e2e["wall_s"] / median(untraced) - 1

        def med(key, per_pass):
            layers[key] = median([per_pass(p) for p in passes])
        for key in EXEC_KEYS + STREAM_KEYS + ["exec.util"]:
            med(key, lambda p, k=key: p["layers"].get(k, 0.0))
        if workload == "imdb_pipeline":
            med("exec.job_gap_s", lambda p: p["layers"]["exec.job_gap_s"])
            for k in QUERY_KEYS + SCALE_KEYS:
                layers[k] = 0.0
            for st in IMDB_STAGES:
                med(f"imdb.{st}_s", lambda p, s=st: p["stages"].get(s, 0.0))
            for m in IMDB_MODULES:
                med(f"imdb.{m}_s", lambda p, m=m: p["layers"]["modules"].get(m, 0.0))
            med("imdb.predictor_calls", lambda p: p["predictor_calls"])
            enriched = imdb_meta["train"] + imdb_meta["valid"]
            med("imdb.cache_hit_ratio", lambda p: 1 - p["predicted_movies"] / enriched)
        else:
            def rsum(k):
                return lambda p: sum(r.get(k, 0.0) for r in p["rows"])
            med("queries.build_s", rsum("build_s"))
            med("queries.plan_s", rsum("plan_s"))
            med("queries.exec_s", rsum("exec_s"))
            med("exec.job_gap_s", rsum("job_gap_s"))
            med("scale.memo_builds", rsum("memo_builds"))
            med("scale.memo_mb", lambda p: max(r["memo_mb"] for r in p["rows"]))
            med("scale.drain_s", rsum("drain_s"))
            med("scale.drained", rsum("drained"))
            for k in [f"imdb.{s}_s" for s in IMDB_STAGES + IMDB_MODULES] + \
                    ["imdb.predictor_calls", "imdb.cache_hit_ratio"]:
                layers[k] = 0.0
        selfs = self_times(spans_path)
        for layer in SELF_LAYERS:
            layers[f"self.{layer}_s"] = median([v.get(layer, 0.0) for v in selfs.values()])
        ps, pe = res["probes_start"], res["probes_end"]
        for k in ("cpu", "shuffle", "scan"):
            layers[f"probe.{k}_s"] = ps[k]
        layers["probe.drift_ratio"] = max(max(pe[k] / ps[k], ps[k] / pe[k]) for k in ps)
        for k in ("jvm", "session", "warmup"):
            layers[f"setup.{k}_s"] = res["setup"][f"{k}_s"]
    return correct, attempted, failed, e2e, layers, details


EXEC_KEYS = ["exec.jobs", "exec.stages", "exec.tasks", "exec.task_s", "exec.cpu_s",
             "exec.gc_s", "exec.shuffle_read_mb", "exec.shuffle_write_mb", "exec.spill_mb",
             "exec.result_mb", "exec.input_mb", "exec.output_mb"]
STREAM_KEYS = ["streaming.batches", "streaming.batch_p50_ms", "streaming.add_batch_ms",
               "streaming.wal_commit_ms", "streaming.commit_offsets_ms",
               "streaming.state_rows", "streaming.state_mb", "streaming.late_dropped"]
QUERY_KEYS = ["queries.build_s", "queries.plan_s", "queries.exec_s"]
SCALE_KEYS = ["scale.memo_builds", "scale.memo_mb", "scale.drain_s", "scale.drained"]
IMDB_STAGES = ["fit_indexers", "fit_scaler", "train_rf", "predict_write", "cache_write"]
IMDB_MODULES = ["readers", "cleaning", "metadata", "enrichment", "features",
                "model_train", "model_predict", "writers"]
SELF_LAYERS = ["bench", "queries", "scale", "exec", "imdb"]


# ---------------------------------------------------------------- main

def harness_run(workload, w, seed, seconds, trace, launch, deadline):
    """One JVM: returns (result, work dir, imdb metadata, held-out labels)."""
    classpath, jvm_opts, _ = launch
    engine_dir = os.path.join(BUILD, "data", f"engine_sf{ENGINE_SF}")
    gen_engine.ensure(engine_dir, ENGINE_SF)
    tag = f"{workload}-s{seed}-t{trace}-{os.getpid()}"
    work = os.path.join(BUILD, "runs", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    imdb_meta, labels = None, None
    hargs = ["mode=bench", f"workload={workload}", f"seed={seed}", f"seconds={seconds}",
             f"trace={trace}", f"data={engine_dir}", f"work={work}",
             f"out={work}/result.json"]
    if workload == "imdb_pipeline":
        imdb_dir = os.path.join(work, "imdb")
        imdb_meta = gen_imdb.generate(imdb_dir, seed, w["train_rows"], w["valid_rows"])
        with open(os.path.join(imdb_dir, "validation_labels.csv")) as f:
            labels = [lab for _, lab in sorted(line.strip().split(",") for line in list(f)[1:])]
        hargs += [f"imdb={imdb_dir}", f"trees={w['trees']}"]
    else:
        hargs += ["rows=" + ",".join(engine_rows(w))]
    # a fixed heap size: with a growable heap, G1's resizing moved the
    # peak RSS of one workload by 30% between seeds
    cmd = ["java"] + jvm_opts + [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
                                 "-cp", classpath, "perfbench.Harness"] + hargs
    log_path = os.path.join(work, "harness.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"harness exceeded the run deadline; see {log_path}")
    if rc != 0 or not os.path.exists(f"{work}/result.json"):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-3000:])
        die(f"harness failed (rc={rc}); see {log_path}")
    with open(f"{work}/result.json") as f:
        return json.load(f), work, tag, imdb_meta, labels


def engine_rows(w):
    return w["iterative"] + w["stream"]


def untraced_walls(workload, stamp):
    """wall_s of the untraced runs of `workload` recorded in this checkout
    by the build with source stamp `stamp`."""
    walls = []
    for p in glob.glob(os.path.join(BUILD, "reports", f"{workload}-s*-t0-*.json")):
        with open(p) as f:
            report = json.load(f)
        if report.get("build") == stamp:
            walls.append(report["end_to_end"]["wall_s"])
    return walls


def one(args, w, launch, deadline, untraced):
    res, work, tag, imdb_meta, labels = harness_run(
        args.workload, w, args.seed, args.seconds, args.trace, launch, deadline)
    correct, attempted, failed, e2e, layers, details = summarize(
        args.workload, res, args.trace == 1, load_json("golden.json"), imdb_meta, labels,
        os.path.join(work, "spans.jsonl"), untraced)
    ps, pe = res["probes_start"], res["probes_end"]
    drift = {k: pe[k] / ps[k] for k in ps}
    drifted = any(r > DRIFT_RATIO or r < 1 / DRIFT_RATIO for r in drift.values())
    if drifted:
        print(f"[perfbench] WARNING: host drift within the run, end/start probes {drift}",
              file=sys.stderr)
    if details.get("errors") or details.get("mismatched") or details.get("check_failures"):
        print(f"[perfbench] failures: {json.dumps(details)}", file=sys.stderr)
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "build": launch[2], "host": host_fingerprint(res["jvm"]),
        "probes_start": ps, "probes_end": pe, "drift_flag": drifted,
        "setup": res["setup"], "passes": len(res["passes"]),
        "correct": correct, "attempted": attempted, "failed": failed,
        "end_to_end": e2e, "per_layer": layers, "details": details,
        "rows": [{k: r.get(k) for k in ("name", "total_s", "error")}
                 for p in res["passes"] for r in p.get("rows", [])],
    }
    reports = os.path.join(BUILD, "reports")
    os.makedirs(reports, exist_ok=True)
    with open(os.path.join(reports, f"{tag}.json"), "w") as f:
        json.dump(report, f, indent=1)
    shutil.copy(os.path.join(work, "harness.log"), os.path.join(reports, f"{tag}.log"))
    if args.trace:
        shutil.copy(os.path.join(work, "spans.jsonl"), os.path.join(reports, f"{tag}.spans.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    return correct, attempted, failed, e2e, layers


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    t_start = time.time()
    spec = load_json("workloads.json")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if args.workload not in spec:
        die(f"unknown workload {args.workload!r}; known: {sorted(spec)}")
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        die("program sources not found next to perfbench/; run from a full checkout")
    w = spec[args.workload]
    launch = build(t_start + 800)
    # a run that had to build may take longer; any other ends within DEADLINE_S
    deadline = (time.time() if time.time() - t_start > 5 else t_start) + DEADLINE_S

    untraced = []
    if args.trace:
        # trace.overhead_frac compares this traced run with the untraced
        # runs of the workload by this build; make one if there are none
        untraced = untraced_walls(args.workload, launch[2])
        if not untraced:
            plain = argparse.Namespace(**dict(vars(args), trace=0))
            untraced = [one(plain, w, launch, deadline, [])[3]["wall_s"]]
    correct, attempted, failed, e2e, layers = one(args, w, launch, deadline, untraced)
    defs = bench["per_layer"] if args.trace else bench["end_to_end"]
    values = layers if args.trace else e2e
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in defs}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
