#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print its metrics.

Usage (from the repository root):
  python3 perfbench/run.py --workload lake_ingest --seed 1 --seconds 5 --trace 0

Builds the engine's main sources together with the harness under
perfbench/src on first use (sbt; Spark jars from $SPARK_HOME/jars), then
runs the workload in one JVM: a closed loop with one client over whole
passes of timed ops lasting at least --seconds, then untimed output checks. With
--trace 0 it prints the end-to-end metrics of BENCHMARK.json, with
--trace 1 the per-layer metrics. The last stdout line is the JSON
result; a readable report and the run's files under perfbench/out/
come with it.
"""
import argparse
import hashlib
import json
import os
import resource
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
STAMP = os.path.join(BENCH, "target", "perfbench.stamp")
# A run ends within RUN_LIMIT_S of its start (the build of a first run
# aside). The JVM gets what is left after the input generation, less
# ORACLE_RESERVE_S for the oracle compare after it; Main keeps its op and
# check watchdogs inside that budget, and the JVM is killed KILL_GRACE_S
# past it.
RUN_LIMIT_S = 170
ORACLE_RESERVE_S = 15
KILL_GRACE_S = 5
# The layers each workload calls. A per-layer metric of any other layer
# is that workload's predicted bypass and reads 0; a metric of a called
# layer that the run did not measure flags the run as failed.
LAYERS = {"lake_ingest": ("core", "ingest", "storage", "catalog", "ops", "trace"),
          "corpus_sql": ("core", "llm", "queries", "trace")}
SQL_SF = "0.01"
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_stamp():
    h = hashlib.sha256()
    for top in (ENGINE_SRC, os.path.join(BENCH, "src"), os.path.join(BENCH, "build.sbt")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    t0 = time.time()
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"], cwd=BENCH,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        fail("build failed:\n" + r.stdout[-4000:])
    with open(STAMP, "w") as f:
        f.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)


def gen_sql_data(seed, out):
    """The SQL tables, from the repository's generator with the seed put
    in place of its fixed one (in a child process, so numpy's generator
    factory is replaced only there)."""
    gen = os.path.join(ROOT, "tools", "gen_sf.py")
    if not os.path.exists(gen):
        fail(f"missing {gen}")
    code = ("import runpy, sys, numpy as np\n"
            "gen, seed = sys.argv[1], int(sys.argv[2])\n"
            "orig = np.random.default_rng\n"
            "np.random.default_rng = lambda *_a, **_k: orig(seed)\n"
            "sys.argv = [gen] + sys.argv[3:]\n"
            "runpy.run_path(gen, run_name='__main__')\n")
    r = subprocess.run([sys.executable, "-c", code, gen, str(seed), SQL_SF, out],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        fail("sql data generation failed:\n" + r.stdout[-2000:])


def run_jvm(args, work, out, extra, budget_s):
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME must name a Spark installation")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
           ["-XX:+UseParallelGC", "-Xmx4g", "-XX:-UsePerfData", "-XX:-UseDynamicNumberOfCompilerThreads", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{CLASSES}:{os.path.join(spark_home, 'jars', '*')}", "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", out, "--budget-s", f"{budget_s:.1f}"] + extra)
    with open(os.path.join(out, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            code = p.wait(timeout=budget_s + KILL_GRACE_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"workload ran past its {budget_s:.0f}s budget; see {out}/jvm.log")
    if code != 0:
        with open(os.path.join(out, "jvm.log")) as f:
            fail(f"JVM exited with {code}:\n" + f.read()[-4000:])


def oracle_check(sf_dir, dump_dir):
    """The SQL suite's results against the DuckDB oracle (tools/check.py)."""
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"), sf_dir, dump_dir],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    last = [l for l in r.stdout.splitlines() if l.strip()]
    return r.returncode == 0, (last[-1] if last else "no output"), r.stdout


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found at the repository root")
    spec = json.load(open(spec_path))
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}")
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}")
    build()
    t_start = time.time()

    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(BENCH, ".run", tag)
    out = os.path.join(BENCH, "out", tag)
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(out)
    extra = []
    try:
        if args.workload == "corpus_sql":
            cpu0 = resource.getrusage(resource.RUSAGE_CHILDREN)
            sf = os.path.join(work, "sf")
            gen_sql_data(args.seed, sf)
            cpu1 = resource.getrusage(resource.RUSAGE_CHILDREN)
            cpu = (cpu1.ru_utime + cpu1.ru_stime) - (cpu0.ru_utime + cpu0.ru_stime)
            extra = ["--sf", sf, "--pre-setup", f"{cpu:.6f},{time.time() - t_start:.6f}"]
        budget = RUN_LIMIT_S - (time.time() - t_start) - (ORACLE_RESERVE_S if args.workload == "corpus_sql" else 0)
        run_jvm(args, work, out, extra, budget)
        res = json.load(open(os.path.join(out, "result.json")))
        if args.workload == "corpus_sql":
            ok, verdict, text = oracle_check(extra[1], os.path.join(work, "dump"))
            with open(os.path.join(out, "oracle.txt"), "w") as f:
                f.write(text)
            res["checks"].append({"name": "duckdb_oracle", "ok": ok, "detail": verdict})
            res["attempted"] += 1
            res["failed"] += 0 if ok else 1
            res["correct"] = res["correct"] and ok
    finally:
        shutil.rmtree(work, ignore_errors=True)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    measured = res["layers"] if args.trace else {k: v["value"] for k, v in res["metrics"].items()}
    unknown = sorted(set(measured) - {m["name"] for m in wanted})
    missing = [m["name"] for m in wanted if m["name"] not in measured]
    if missing and not args.trace:
        fail(f"end-to-end metrics not measured: {missing}")
    unmeasured = [n for n in missing if n.split(".")[0] in LAYERS[args.workload]]
    if unmeasured:
        res["checks"].append({"name": "per_layer_measured", "ok": False,
                              "detail": "not measured: " + ", ".join(unmeasured)})
        res["attempted"] += 1
        res["failed"] += 1
        res["correct"] = False
    # a layer the workload never calls reports 0: its predicted bypass
    metrics = {m["name"]: {"value": float(measured.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}

    report(res, metrics, {k: measured[k] for k in unknown})
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


def report(res, metrics, unlisted):
    box = res["box"]
    print(f"# {res['workload']} seed={res['seed']} trace={int(res['trace'])}: "
          f"{res['ops']} ops in {res['loop_s']:.1f}s, op tail p{res['op_tail']['pct']:.1f} = "
          f"{res['op_tail']['ms']:.1f} ms (n={res['op_tail']['n']}); "
          f"box nproc={box['nproc']} heap={box['max_heap_mb']}MB floor={box['core.floor_ms']:.1f}ms")
    for k, v in metrics.items():
        print(f"  {k:40s} {v['value']:14.4f} {v['unit']}")
    for k, v in res["figures"].items():
        print(f"  {k:40s} {v['value']:14.4f} {v['unit']}  (workload figure)")
    for k, v in res["parts"].items():
        print(f"  {k + '_p50_s':40s} {v['p50_s']:14.4f} s  "
              f"(tail p{v['tail_pct']:.1f} = {v['tail_s']:.4f} s, n={v['n']}; "
              f"cpu p50 {v['cpu_p50_s']:.4f} s)")
    for c in res["checks"]:
        print(f"  check {c['name']}: {'PASS' if c['ok'] else 'FAIL'} - {c['detail']}")
    for a in res.get("op_accounting", []):
        print(f"  op {a['op']}: wall {a['wall_ms']:.1f} ms, unaccounted {a['unaccounted_ms']:.1f} ms")
    for k, v in unlisted.items():
        print(f"  {k:40s} {v:14.4f}  (measured, not listed in BENCHMARK.json)")
    print(f"  failed {res['failed']} of {res['attempted']} attempted (ops and checks)")


if __name__ == "__main__":
    main()
