#!/usr/bin/env python3
"""Benchmark entry point: one workload, one run, one JSON result line.

Usage (from the repository root):

    python3 perfbench/run.py --workload etl_load --seed 1 --seconds 10 --trace 0

It compiles the engine (``src/main/scala``) and the benchmark's worker
(``perfbench/scala``) against the Spark jars in ``$SPARK_HOME/jars`` into
``.bench_build/`` (cached by source hash), generates the workload's inputs
from the seed, runs the worker JVM, compares checked-pass results with
the DuckDB oracle, and prints the metrics. Everything it writes stays
under ``.bench_build/`` in the current directory.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import statistics
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(ROOT, "tools"))

import stats  # noqa: E402

BUILD = os.path.join(os.getcwd(), ".bench_build")
DEADLINE_S = 170  # the run after the build must end within this

# Per workload: input sizes and the operations of one pass. star_sf
# scales the star schema like the sf fixtures (sf0.01 = 60k lineitem rows);
# docs/embs size the corpus; listings is raw rows per ETL platform.
QUERY_SUITE = [
    # operators.Relational
    "q01_pricing_summary", "q03_revenue_by_nation", "q07_topk_per_group", "q10_rollup",
    "q18_json_extract",
    # operators.EtlQueries
    "e01_cast_coerce", "e10_dedup_keepfirst",
    # operators.EtlPipelineQuery
    "ep02_pipeline_hashable",
    # operators.AsOfJoin
    "aj01_asof_backward", "aj02_asof_exec",
    # streaming.EventWindows
    "st01_tumbling_window", "st03_session_window",
    # operators.Similarity: the IVF index memo and its registered cache
    "ss05_ivf_ann"]
WORKLOADS = {
    "etl_load": {"listings": 50_000, "star_sf": 0.0, "docs": 0, "embs": 0,
                 "ops": []},
    "query_suite": {"listings": 0, "star_sf": 0.01, "docs": 500, "embs": 500,
                    "ops": QUERY_SUITE},
}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    out = []
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "scala")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    """Compile engine + worker once per source hash; return the classes dir."""
    srcs = sources()
    if not any("/src/main/scala/" in s.replace(os.sep, "/") for s in srcs):
        sys.exit("perfbench: no engine sources under src/main/scala")
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        sys.exit("perfbench: SPARK_HOME must point at a Spark install with jars/")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    classes = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes, spark_home
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jars = os.path.join(spark_home, "jars", "*")
    log(f"compiling {len(srcs)} sources")
    r = subprocess.run(
        ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
         "-d", tmp, "-classpath", jars, "-nowarn"] + srcs,
        stdout=sys.stderr, stderr=sys.stderr, timeout=900)
    if r.returncode != 0:
        sys.exit("perfbench: compile failed")
    os.rename(tmp, classes)
    return classes, spark_home


def generate(workload, seed, data):
    import gen
    cfg = WORKLOADS[workload]
    info = {}
    if cfg["star_sf"]:
        info["star"] = gen.gen_star(data, cfg["star_sf"], seed)
    if cfg["docs"]:
        info["corpus"] = gen.gen_corpus(data, cfg["docs"], cfg["embs"], seed)
    if cfg["listings"]:
        info["listings"] = gen.gen_listings(os.path.join(data, "listings"),
                                            cfg["listings"], seed)
    return info


def run_worker(classes, spark_home, args, run_dir, data, expected, budget):
    cfg = WORKLOADS[args.workload]
    work = os.path.join(run_dir, "work")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(work)
    os.makedirs(tmp)
    out = os.path.join(run_dir, "result.json")
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}{os.pathsep}{os.path.join(spark_home, 'jars', '*')}",
            "perfbench.Worker", f"workload={args.workload}", f"data={data}",
            f"work={work}", f"seconds={args.seconds}", f"trace={args.trace}",
            f"seed={args.seed}", f"out={out}",
            "ops=" + ",".join(cfg["ops"]),
            "expected=" + ",".join(f"{k}:{v}" for k, v in sorted(expected.items()))]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count() or 1),
               SPARK_LOCAL_DIRS=tmp)
    err_path = os.path.join(run_dir, "worker.err")
    with open(err_path, "w") as err:
        p = subprocess.Popen(cmd, stdout=err, stderr=err, env=env, cwd=run_dir,
                             start_new_session=True)
        try:
            code = p.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.exit(f"perfbench: worker exceeded {budget:.0f} s")
    with open(err_path, errors="replace") as f:
        lines = f.readlines()
    if code != 0 or not os.path.exists(out):
        sys.stderr.writelines(lines[-40:])
        sys.exit(f"perfbench: worker exited {code}")
    with open(out) as f:
        return json.load(f), lines


def oracle_check(data, work, oracle):
    """Compare each checked-pass dump with its DuckDB oracle, normalized
    as tools/check.py does. Returns {query: reason} for mismatches; an
    oracle that fails to run is a mismatch too."""
    import duckdb
    import check
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{os.path.join(work, 'duckdb')}'")
    for t in check.TABLES:
        path = os.path.join(data, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    bad = {}
    for name, sql in sorted(oracle.items()):
        dump = os.path.join(work, "check", name)
        if not os.path.isdir(dump):
            continue  # the checked pass already failed it
        try:
            o = con.execute(sql)
            ocols, orows = [d[0] for d in o.description], o.fetchall()
        except Exception as e:  # noqa: BLE001 — any oracle error is a failed check
            bad[name] = f"oracle error: {e}"[:300]
            continue
        s = con.execute(f"SELECT * FROM '{dump}/*.parquet'")
        scols, srows = [d[0] for d in s.description], s.fetchall()
        oc, orws = check.rows_key(ocols, orows)
        sc, srws = check.rows_key(scols, srows)
        if oc != sc:
            bad[name] = f"columns differ: oracle={oc} spark={sc}"
        elif orws != srws:
            bad[name] = f"{len(srws)} rows vs oracle {len(orws)}, values differ"
    return bad


def metrics(res, lines, info, setup_gen_s, trace, t0):
    """End-to-end values from the untraced passes; with `trace`, also the
    per-layer values, as means per traced pass. Set-up is timed from `t0`,
    the end of the build."""
    samples, passes = res["samples"], res["passes"]
    untraced = [p for p in passes if not p["traced"]]
    op_times = [s["wall_s"] for s in samples if not s["traced"]]
    p90, p90_ok = stats.percentile(op_times, 0.90)
    v = {
        "setup_s": res["first_op_ms"] / 1000.0 - t0,
        "run_s": statistics.median([p["wall_s"] for p in untraced]),
        "op_p50_s": stats.percentile(op_times, 0.50)[0],
        "op_p90_s": p90,
        "rows_per_s": statistics.median([p["rows"] / p["wall_s"] for p in untraced]),
    }
    if not trace:
        return v
    traced = [p for p in passes if p["traced"]]
    lay = {}
    for p in traced:
        for k, x in p["layers"].items():
            lay[k] = lay.get(k, 0.0) + x / len(traced)
    wall = sum(p["wall_s"] for p in traced) / len(traced)
    jobs = lay.get("exec.jobs", 0.0)
    errors, acc, n_passes = stats.classify_log(lines)
    # etl: runReport's own work outside the sink callback is the precheck
    precheck = lay.get("etl.run_s", 0.0) - lay.get("etl.load_s", 0.0)
    covered = precheck + sum(lay.get(k, 0.0) for k in (
        "builder.s", "sources.s", "catalyst.analyze_s", "catalyst.optimize_s",
        "catalyst.plan_s", "exec.s"))
    rows_in = sum(info.get("listings", {}).get("raw_rows", {}).values())
    v.update({
        "builder.s": lay.get("builder.s", 0.0),
        "builder.jobs": lay.get("jobs.builder", 0.0),
        "catalyst.analyze_s": lay.get("catalyst.analyze_s", 0.0),
        "catalyst.optimize_s": lay.get("catalyst.optimize_s", 0.0),
        "catalyst.plan_s": lay.get("catalyst.plan_s", 0.0),
        "exec.s": lay.get("exec.s", 0.0),
        "exec.jobs": jobs,
        "exec.stages": lay.get("exec.stages", 0.0),
        "exec.tasks": lay.get("exec.tasks", 0.0),
        "exec.tasks_per_job": lay.get("exec.tasks", 0.0) / jobs if jobs else 0.0,
        "exec.cpu_s": lay.get("exec.cpu_s", 0.0),
        "exec.cpu_util": lay.get("exec.cpu_s", 0.0) / (wall * res["cores"]),
        "exec.shuffle_read_mb": lay.get("exec.shuffle_read_mb", 0.0),
        "exec.shuffle_write_mb": lay.get("exec.shuffle_write_mb", 0.0),
        "exec.spill_mb": lay.get("exec.spill_mb", 0.0),
        "exec.gc_s": lay.get("exec.gc_s", 0.0),
        "sources.read_mb": lay.get("sources.read_mb", 0.0),
        "sources.read_rows": lay.get("sources.read_rows", 0.0),
        "etl.load_s": lay.get("etl.load_s", 0.0),
        "etl.precheck_s": precheck,
        "etl.rows_in": rows_in,
        "etl.rows_out": lay.get("etl.rows_out", 0.0),
        "etl.keep_ratio": lay.get("etl.rows_out", 0.0) / rows_in if rows_in else 0.0,
        "etl.write_mb": lay.get("write_mb.load", 0.0),
        "caches.pending_max": res["caches_pending_max"],
        "setup.session_s": res["setup"]["session_s"],
        "setup.generate_s": setup_gen_s,
        "setup.check_s": res["setup"]["check_s"],
        "setup.warm_s": res["setup"]["warm_s"],
        "jvm.heap_peak_mb": res["heap_peak_mb"],
        "log.errors": errors / max(n_passes, 1),
        "log.accumulator_errors": acc / max(n_passes, 1),
        "trace.overhead": wall / (sum(p["wall_s"] for p in untraced) / len(untraced)),
        "trace.coverage": covered / wall,
        "error_rate": sum(not s["ok"] for s in samples) / len(samples),
        "op.samples": len(op_times),
        "op.p90_resolved": int(p90_ok),
    })
    return v


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    classes, spark_home = build()
    t0 = time.time()  # set-up and the run's deadline start after the build
    run_dir = os.path.join(BUILD, f"run-{args.workload}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data = os.path.join(run_dir, "data")
    t_gen = time.time()
    info = generate(args.workload, args.seed, data)
    gen_s = time.time() - t_gen
    expected = info.get("listings", {}).get("expected", {})
    budget = DEADLINE_S - (time.time() - t0)
    res, lines = run_worker(classes, spark_home, args, run_dir, data, expected, budget)
    failures = dict(res["check_failures"])
    failures.update(oracle_check(data, os.path.join(run_dir, "work"), res["oracle"]))
    samples = res["samples"]
    for s in samples:
        if s["name"] in failures:
            s["ok"] = False
    for name, why in sorted(failures.items()):
        log(f"check failed: {name}: {why}")
    for s in samples:
        if s["error"]:
            log(f"op failed: {s['name']} pass {s['pass']}: {s['error']}")
    log("setup: " + ", ".join(f"{k} {v:.2f}" for k, v in res["setup"].items()) +
        f", generate_s {gen_s:.2f}; passes: " +
        ", ".join(f"{p['wall_s']:.2f}" for p in res["passes"]))
    for s in sorted(samples, key=lambda s: -s["wall_s"])[:5]:
        log(f"slowest op {s['name']} pass {s['pass']}: {s['wall_s']:.3f} s, {s['rows']} rows")
    attempted = len(samples)
    failed = sum(not s["ok"] for s in samples)
    values = metrics(res, lines, info, gen_s, args.trace, t0)
    names = stats.PER_LAYER if args.trace else stats.END_TO_END
    rec = stats.record(failed == 0 and not failures, attempted, failed, values, names)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(rec), flush=True)


if __name__ == "__main__":
    main()
