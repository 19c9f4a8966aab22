"""Benchmark of the car-sales ETL engine: one command per workload run.

    python3 carbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Run from the repository root.  Builds the engine from source (cached under
$CARGO_TARGET_DIR, default .bench_build), generates the inputs from the
seed, runs one workload in one JVM (local[nproc], one client in a closed
loop), checks every output against an independent expectation, prints a
report and, as the last line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 the layer calls run inside spans and the metrics are the
per-layer ones.

A run starts the JVM, which sets up (JVM start to Spark session ready),
then runs the workload's cycles back to back for --seconds and at least
MIN_CYCLES of them; the first cycle is the cold one.  Then it starts the
JVM SETUP_RUNS - 1 more times for set-up alone; setup_s is the median of
the set-up times.

Workloads:
  ingest    the pipeline's data path (Ingest, Silver) as SalesPipeline.run
            calls it; a cycle is a full load of a generated history into an
            empty root, a new batch, an update batch and a replay of the
            update batch; bronze and silver are checked after every batch
            against an independent DuckDB model;
  ops_mix   SparkEntry queries over seeded TPC-H-ish tables; a cycle is one
            pass over the mix in one session (pass 1 is cold, later passes
            are the warm, cache-served case); every output is checked
            against the query's DuckDB oracle;
  carsales  the whole SalesPipeline.run (gold star schema too): one full
            load and alternating new / update batches, checked against the
            model's gold state.  Not in BENCHMARK.json: on the engine as it
            is, its dimensions get duplicate surrogate keys, so it reports
            failed operations (see CHANGES.md).
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import model  # noqa: E402
import opsdata  # noqa: E402
import oracle  # noqa: E402

INGEST_ROWS = 100000     # rows of the ingest workload's history
CARSALES_ROWS = 20000    # rows of the carsales workload's history
MIN_CYCLES = {"ingest": 3, "ops_mix": 3, "carsales": 1}
SETUP_RUNS = 2
# SparkEntry queries of ops_mix, by family.  Only queries that read and
# write nothing outside the run's own directories are listed.
QUERIES = {
    "analytics": ["q21_waiting_suppliers", "q18_large_orders", "r11_multiway_join"],
    "stream": ["events_stream_hourly"],
    "cache": ["dedup_clusters"],
}
# Metrics of --trace 0: set-up (JVM start to session ready, median of
# SETUP_RUNS launches) and the task CPU seconds of the first MIN_CYCLES
# cycles (the cold one included).  Wall times of the cycles are printed, not
# gated: on a shared 4-core host, waves of contention from other tenants
# doubled them for minutes at a time (interquartile range over median of
# the warm cycle up to 0.44 over consecutive seeds), while task CPU time
# moved about a tenth.
END_TO_END = {"setup_s": "s", "executor_cpu_s": "s"}
DIMS = ["dim_branch", "dim_dealer", "dim_model", "dim_date"]
SPARK_KEYS = ["jobs", "stages", "tasks", "task_cpu_s", "gc_s", "shuffle_write_mb",
              "spill_mb", "driver_only_s"]
LAYERS = ["Ingest", "Silver", "ops"]
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def per_layer_names():
    """Per-layer metrics of --trace 1; layer times and counts are per cycle."""
    names = ["Ingest.s", "Ingest.rows_out", "Ingest.bytes_written", "Ingest.full_load_s",
             "Ingest.batch_s", "Silver.s", "Silver.bytes_written"]
    for q in (q for qs in QUERIES.values() for q in qs):
        names += [f"ops.{q}.pass1.s", f"ops.{q}.warm.s"]
    names += [f"ops.family.{f}.s" for f in QUERIES] + ["ops.pass1_s", "ops.layout_s"]
    names += [f"spark.{k}" for k in SPARK_KEYS]
    names += [f"{layer}.spark.{k}" for layer in LAYERS for k in SPARK_KEYS]
    return names + ["host.probe_before_s", "host.probe_after_s", "trace.overhead_s"]


def gold_layer_names():
    """Extra per-layer metrics of the carsales workload."""
    return ([f"DimensionBuilder.{d}.s" for d in DIMS] +
            ["DimensionBuilder.new_keys", "FactBuilder.s", "FactBuilder.rows_out",
             "TxLog.commits", "TxLog.bytes_written", "TxLog.rewrite_useful_frac",
             "GoldCatalog.register_s"])


def plan(workload, seed):
    """The JVM's workload arguments; the inputs are generated here."""
    inputs = os.path.join(build.build_root(), "inputs")
    if workload == "ops_mix":
        sf = opsdata.generate(os.path.join(
            inputs, f"ops_s{seed}_o{opsdata.N_ORDERS}_d{opsdata.N_DOCS}"), seed)
        return {"sf": os.path.abspath(sf),
                "queries": ",".join(q for qs in QUERIES.values() for q in qs)}
    rows, batches = (INGEST_ROWS, 2) if workload == "ingest" else (CARSALES_ROWS, 2)
    files = gen.generate(os.path.join(inputs, f"s{seed}_r{rows}_b{batches}"),
                         seed, rows, batches)
    return {"history": files[0], "batches": ",".join(files[1:])}


def run_jvm(classpath, args, work, deadline):
    """Runs the JVM to the end; returns its result and its launch time."""
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xmx3g", f"-Djava.io.tmpdir={tmp}"]
    cmd += [x for p in JVM_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += ["-cp", os.pathsep.join(classpath + build.spark_jars()), "carbench.CarBench"]
    cmd += [f"{k}={v}" for k, v in args.items()] + [f"work={work}", f"out={out}"]
    log = os.path.join(work, "jvm.log")
    launched = time.time()
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise SystemExit("the JVM did not finish in time")
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if p.returncode != 0 or not os.path.exists(out):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"the JVM failed with exit code {p.returncode}")
    with open(out) as f:
        res = json.load(f)
    if "fatal" in res:
        raise SystemExit(f"the workload failed: {res['fatal']}")
    return res, launched


def gold_dirs(op):
    return {t: op["extra"][f"dirs.{t}"].split(",")
            for t in model.TABLES if f"dirs.{t}" in op["extra"]}


def check_ingest(res):
    """(op, reason-or-None) for every op: the model is advanced once per
    batch of the cycle, and every cycle's bronze and silver after that
    batch are compared with it."""
    m = model.Model()
    reasons = {}
    kinds = []
    for op in res["ops"]:
        if op["kind"] not in kinds:
            kinds.append(op["kind"])
    for kind in kinds:
        ops = [op for op in res["ops"] if op["kind"] == kind]
        m.apply(gen.read_csv(ops[0]["extra"]["csv"]), gold=False)
        for op in ops:
            r = [op["error"]] if op["error"] else model.check_layers(m, op["extra"]["check"])
            reasons[id(op)] = "; ".join(r) or None
    return [(op, reasons[id(op)]) for op in res["ops"]]


def check_carsales(res):
    """(op, reason-or-None) for every op, checked against the model after
    the same inputs; and rows changed / rows rewritten over the merges."""
    m = model.Model()
    results = []
    changed = rewritten = 0
    for op in res["ops"]:
        before = m.snapshot() if m.loaded else None
        m.apply(gen.read_csv(op["extra"]["csv"]))
        if before is not None:  # a merge rewrites every gold table whole
            changed += sum(m.changed_rows(before).values())
            rewritten += sum(len(m.rows(t)) for t in model.TABLES)
        reasons = [op["error"]] if op["error"] else model.check(m, gold_dirs(op))
        results.append((op, "; ".join(reasons) or None))
    return results, changed / rewritten if rewritten else 0.0


def check_ops(res, sf):
    orc = oracle.Oracle(sf, os.path.join(build.build_root(), "oracle"))
    results = []
    for op in res["ops"]:
        sql = res.get(f"oracle.{op['name']}")
        if op["error"]:
            reason = op["error"]
        elif not sql:
            reason = "no oracle SQL"
        else:
            reason = orc.check(op["name"], sql, op["extra"]["out"])
        results.append((op, reason))
    return results


def cycles(results):
    """Per cycle: (wall seconds, task CPU seconds) summed over its ops."""
    per = {}
    for op, _ in results:
        w, c = per.get(op["cycle"], (0.0, 0.0))
        per[op["cycle"]] = (w + op["seconds"], c + op["cpu_s"])
    return [per[k] for k in sorted(per)]


def steady(cs):
    """The cycles the end-to-end medians are taken over: all but the first,
    cold one (reported on its own)."""
    return cs[1:] or cs


def median_op(results, kinds):
    xs = [op["seconds"] for op, _ in results if op["kind"] in kinds]
    return statistics.median(xs) if xs else 0.0


def layer_metrics(workload, res, results, useful_frac, overhead):
    spans = res["spans"]
    n_cycles = len(cycles(results))
    names = per_layer_names() + (gold_layer_names() if workload == "carsales" else [])
    m = {n: 0.0 for n in names}

    def under(prefix):
        return [s for s in spans if s["name"] == prefix or s["name"].startswith(prefix + ".")]

    def total(ss, key):
        return sum(s["deltas"].get(key, 0.0) for s in ss)

    def secs(ss):
        return sum(s["seconds"] for s in ss)

    for layer in LAYERS + (["DimensionBuilder", "FactBuilder", "GoldCatalog"]
                           if workload == "carsales" else []):
        ss = [s for s in under(layer) if s["seconds"] > 0]
        for k in SPARK_KEYS[:-1]:
            m[f"{layer}.spark.{k}"] = total(ss, k) / n_cycles
        m[f"{layer}.spark.driver_only_s"] = sum(
            s["seconds"] - s["deltas"]["busy_s"] for s in ss) / n_cycles
    for name in ["Ingest", "Silver"]:
        m[f"{name}.s"] = secs(under(name)) / n_cycles
    m["Ingest.rows_out"] = total(under("Ingest"), "records_written") / n_cycles
    m["Ingest.bytes_written"] = total(under("Ingest"), "bytes_written") / n_cycles
    m["Silver.bytes_written"] = total(under("Silver"), "bytes_written") / n_cycles
    if workload == "ingest":
        m["Ingest.full_load_s"] = median_op(results, ("full",))
        m["Ingest.batch_s"] = median_op(results, ("new", "update", "replay"))
    if workload == "carsales":
        for d in DIMS:
            m[f"DimensionBuilder.{d}.s"] = secs(under(f"DimensionBuilder.{d}"))
        m["DimensionBuilder.new_keys"] = total(under("DimensionBuilder.new_keys"), "count")
        m["FactBuilder.s"] = secs(under("FactBuilder"))
        m["FactBuilder.rows_out"] = total(under("FactBuilder"), "records_written")
        m["GoldCatalog.register_s"] = secs(under("GoldCatalog"))
        m["TxLog.commits"] = total(under("TxLog"), "commits")
        m["TxLog.bytes_written"] = total(under("TxLog"), "bytes_written")
        m["TxLog.rewrite_useful_frac"] = useful_frac
    if workload == "ops_mix":
        n_warm = max(1, n_cycles - 1)
        for fam, qs in QUERIES.items():
            for q in qs:
                m[f"ops.{q}.pass1.s"] = secs(under(f"ops.{q}.pass1"))
                warm = [s["seconds"] for s in under(f"ops.{q}.warm")]
                m[f"ops.{q}.warm.s"] = statistics.median(warm) if warm else 0.0
                m[f"ops.family.{fam}.s"] += secs(under(f"ops.{q}.warm")) / n_warm
        m["ops.pass1_s"] = cycles(results)[0][0]
        m["ops.layout_s"] = res.get("layout_s", 0.0)
    for k in SPARK_KEYS[:-1]:
        m[f"spark.{k}"] = res[f"spark.{k}"] / n_cycles
    m["spark.driver_only_s"] = (res["wall_s"] - res["spark.busy_s"]) / n_cycles
    m["host.probe_before_s"] = res["probe_before_s"]
    m["host.probe_after_s"] = res["probe_after_s"]
    m["trace.overhead_s"] = overhead
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=("ingest", "ops_mix", "carsales"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10,
                    help="how long the timed cycles run at least (and at least MIN_CYCLES)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    t_start = time.time()
    classpath = build.build()
    deadline = time.time() + 170
    phases = {"build": time.time() - t_start}
    work = os.path.abspath(os.path.join(build.build_root(), "work",
                                        f"{a.workload}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t = time.time()
        args = plan(a.workload, a.seed)
        phases["inputs"] = time.time() - t
        args.update(workload=a.workload, trace=str(a.trace), seconds=str(a.seconds),
                    min_cycles=str(MIN_CYCLES[a.workload]))
        res, launched = run_jvm(classpath, args, os.path.join(work, "run"), deadline)
        phases["run"] = time.time() - launched
        t = time.time()
        launches = [(res, launched)]
        for i in range(1, SETUP_RUNS):
            launches.append(run_jvm(classpath, {**args, "setup_only": "1"},
                                    os.path.join(work, f"setup{i}"), deadline))
        setups = [r["setup_done_epoch_s"] - t for r, t in launches]
        phases["setup_runs"] = time.time() - t
        t = time.time()
        useful_frac = 0.0
        if a.workload == "ops_mix":
            results = check_ops(res, args["sf"])
        elif a.workload == "ingest":
            results = check_ingest(res)
        else:
            results, useful_frac = check_carsales(res)
        phases["checks"] = time.time() - t
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted = len(results)
    failed = sum(1 for _, r in results if r)
    warm = steady(cycles(results))
    report = {
        "setup_s": statistics.median(setups),
        "executor_cpu_s": sum(c for _, c in cycles(results)[:MIN_CYCLES[a.workload]]),
        "run_s": sum(w for w, _ in cycles(results)[:MIN_CYCLES[a.workload]]),
        "cycle_s": statistics.median(w for w, _ in warm),
        "cycle_cpu_s": statistics.median(c for _, c in warm),
        "heap_peak_mb": res["heap_peak_mb"],
        "first_cycle_s": cycles(results)[0][0],
        "cycles": len(cycles(results)),
        "wall_s": res["wall_s"],
        "ops_failed_frac": failed / attempted,
    }
    if a.workload == "ops_mix":
        report["query_geomean_s"] = geomean([op["seconds"] for op, _ in results])
    else:
        report["full_load_s"] = median_op(results, ("full",))
        report["batch_p50_s"] = median_op(results, ("new", "update"))
    if a.workload == "carsales":
        report["bytes_stored_per_input_byte"] = res["bytes_stored"] / res["input_bytes"]

    last = os.path.join(build.build_root(), f"last_cycle_{a.workload}.json")
    if a.trace:
        overhead = 0.0
        if os.path.exists(last):
            with open(last) as f:
                overhead = report["cycle_s"] - json.load(f)["cycle_s"]
        metrics = layer_metrics(a.workload, res, results, useful_frac, overhead)
        spans = os.path.join(build.build_root(), "spans", f"{a.workload}-seed{a.seed}.json")
        os.makedirs(os.path.dirname(spans), exist_ok=True)
        with open(spans, "w") as f:
            json.dump(res["spans"], f)
    else:
        with open(last, "w") as f:
            json.dump({"cycle_s": report["cycle_s"]}, f)
        metrics = {k: report[k] for k in END_TO_END}

    print(f"# {a.workload} seed={a.seed} trace={a.trace}: "
          f"{attempted} operations, {failed} failed")
    print("#   phases: " + ", ".join(f"{k} {v:.1f} s" for k, v in phases.items()))
    for r, t in launches:
        print(f"#   set-up {r['setup_done_epoch_s'] - t:.3f} s: JVM start "
              f"{r['jvm_start_epoch_s'] - t:.3f} s, session "
              f"{r['session_ready_epoch_s'] - r['jvm_start_epoch_s']:.3f} s")
    for k, v in report.items():
        print(f"#   {k} = {v:.4f} {unit_of(k)}")
    if a.trace:
        print(f"#   trace.overhead_s = {overhead:.4f} s (traced minus last untraced cycle_s)")
    for op, r in results:
        print(f"#   op {op['cycle']} {op['kind']} {op['name']}: {op['seconds']:.3f} s, "
              f"cpu {op['cpu_s']:.3f} s" + (f", FAILED: {r}" if r else ""))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": float(v), "unit": unit_of(k)} for k, v in metrics.items()},
    }))


def geomean(xs):
    return math.exp(sum(math.log(max(x, 1e-9)) for x in xs) / len(xs))


def unit_of(name):
    if name in END_TO_END:
        return END_TO_END[name]
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("bytes_written"):
        return "bytes"
    if name.endswith(("_frac", "_byte")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
