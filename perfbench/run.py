#!/usr/bin/env python3
"""Closed-loop benchmark of the graft engine through graft.SparkEntry.queries.

Usage (from the checkout root):
  python3 perfbench/run.py --workload dag_monitor --seed 1 --seconds 8 --trace 0

One run: build (cached), then one JVM running perfbench.PerfBench on
the workload's queries, then the output checks
(fingerprints repeat across passes; dumped results equal the DuckDB
oracle). The last stdout line is one JSON object:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics under --trace 0 and the per-layer metrics
under --trace 1. The lines before it are a human-readable report.
See perfbench/NOTES.md for the workloads, the metrics and the noise
guards.
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

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

# Per-workload query sets: one closed-loop client runs each set in a
# seeded order per pass. Each list keeps at least one query per family
# named in NOTES.md. `warmup` is the fixed number of unmeasured passes
# after the cold one, read off the plateau of cpu_s and jit_s.
# batch_heavy is not in BENCHMARK.json: at about 11 s per warm pass its
# runs do not fit the benchmark's total time budget next to the other
# two (see NOTES.md). It stays runnable by hand with the same client.
WORKLOADS = {
    "dag_monitor": dict(
        queries=["v1_freshness", "v3_threshold", "p10_map_explode",
                 "s10_jsonl_corrupt", "k9_orc_roundtrip", "d1_fanout_isolation",
                 "config_dynamic_key", "acl_audit", "acl_row_filter"],
        warmup=4),
    "corpus_serve": dict(
        queries=["t_bm25_topk", "rag_fusion_rrf", "ann_ivf_topk",
                 "t_unigram_logprob", "emb_decontam_nearest"],
        warmup=4),
    "batch_heavy": dict(
        queries=["q3_top_orders", "agg_grouping_sets", "window_zscore_trailing",
                 "graph_pagerank", "dedup_minhash_lsh", "k7_partitioned_write"],
        warmup=2),
}

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
JVM_TIMEOUT_S = 150

# Per-layer metrics (--trace 1): name -> (unit, end-to-end metric it
# should move). The order is the report's order.
LAYERS = [
    ("build_s", "s", "pass_s, query_p50_s on dag_monitor"),
    ("plan_s", "s", "query_p50_s on dag_monitor"),
    ("plan.analysis_s", "s", "query_p50_s on dag_monitor"),
    ("plan.optimization_s", "s", "query_p50_s on dag_monitor"),
    ("plan.planning_s", "s", "query_p50_s on dag_monitor"),
    ("jobs", "count", "query_p50_s on dag_monitor"),
    ("stages", "count", "query_p50_s on dag_monitor"),
    ("tasks", "count", "query_p50_s on dag_monitor"),
    ("sched_delay_s", "s", "query_p50_s on dag_monitor"),
    ("exec_s", "s", "pass_s, query_p90_s on corpus_serve"),
    ("task_run_s", "s", "pass_s, query_p90_s on corpus_serve"),
    ("task_cpu_s", "s", "pass_s, cpu_s on corpus_serve"),
    ("slot_busy_ratio", "ratio", "pass_s on corpus_serve"),
    ("scan_mb", "MiB", "query_p50_s on corpus_serve"),
    ("shuffle_write_mb", "MiB", "pass_s on corpus_serve"),
    ("shuffle_read_mb", "MiB", "pass_s on corpus_serve"),
    ("result_rows", "count", "query_p50_s (output volume)"),
    ("artifact_build_s", "s", "setup_s on corpus_serve"),
    ("gc_s", "s", "heap_live_mb, query_p90_s"),
    ("jit_s", "s", "cpu_s, query_p90_s"),
    ("warm_s", "s", "setup_s (warm-up cost before the window)"),
    ("host_steal_pct", "%", "diagnostic only"),
    ("trace_overhead_pct", "%", "diagnostic: listener cost on pass_s"),
]


def java_cmd(args_, run_dir, wl, trace):
    return ["java", *build.JVM_FLAGS,
            f"-Xms{args_.heap}", f"-Xmx{args_.heap}",
            f"-Djava.io.tmpdir={run_dir}/tmp",
            f"-Dspark.local.dir={run_dir}/local",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", build.classpath(), "perfbench.PerfBench",
            "--queries", ",".join(wl["queries"]), "--seed", str(args_.seed),
            "--seconds", str(args_.seconds), "--trace", "1" if trace else "0",
            "--sf", build.DATA, "--out", f"{run_dir}/out", "--cpus", str(args_.cpus),
            "--warmup", str(wl["warmup"])]


def launch(cmd, run_dir, log):
    """Runs one JVM to completion in its own fresh tmp/local dirs.
    Returns (setup seconds: launch -> end of the cold pass, result)."""
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "local", "out"):
        os.makedirs(os.path.join(run_dir, d))
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k != "SPARK_LOCAL_DIRS"}
    env["GRAFT_FIXTURES_DIR"] = os.path.join(build.ROOT, "fixtures")
    with open(log, "a") as err:
        t0 = time.time()
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE,
                             stderr=err, text=True)
        try:
            out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        finally:
            if p.poll() is None:
                p.kill()
            p.wait()
        t_exit = time.time()
    cold_end = next((int(l.split()[1]) / 1000.0 for l in out.splitlines()
                     if l.startswith("PERFBENCH_COLD_END ")), None)
    if p.returncode != 0 or cold_end is None:
        raise RuntimeError(f"JVM exited with {p.returncode}; see {log}")
    with open(os.path.join(run_dir, "out", "result.json")) as f:
        res = json.load(f)
    res["session_s"] = res["session_ready_ms"] / 1000.0 - t0
    res["after_window_s"] = t_exit - res["window_end_ms"] / 1000.0
    return cold_end - t0, res


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def oracle_check(result, run_dir):
    """Compares every dumped result with its DuckDB oracle. Returns
    (checked query names, {query: failure reason})."""
    import duckdb
    import pyarrow.dataset as pds

    def norm(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else repr(v)
        if isinstance(v, bytes):
            return v.hex()
        return str(v)

    def canon(cols, rows):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        return ([cols[i] for i in order],
                sorted(tuple(norm(r[i]) for i in order) for r in rows))

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{build.DATA}/{t}.parquet/*.parquet'")
    fails = {}
    sqls = result["oracle_sql"]
    for name, sql in sorted(sqls.items()):
        try:
            res = con.sql(sql)
            oc, orows = canon(res.columns, res.fetchall())
        except Exception as e:
            fails[name] = f"oracle error: {e}"[:200]
            continue
        try:
            tab = pds.dataset(f"{run_dir}/out/results/{name}").to_table()
            sc, srows = canon(tab.column_names,
                              [tuple(r[c] for c in tab.column_names) for r in tab.to_pylist()])
        except Exception as e:
            fails[name] = f"result unreadable: {e}"[:200]
            continue
        if oc != sc:
            fails[name] = f"columns differ: {sc} vs {oc}"[:200]
        elif srows != orows:
            fails[name] = f"rows differ ({len(srows)} vs {len(orows)} oracle)"
    con.close()
    return sorted(sqls), fails


def check_runs(passes):
    """Counts query executions, failed ones, and fingerprint changes
    against each query's cold-pass fingerprint."""
    attempted, failed, first, notes = 0, 0, {}, []
    for p in passes:
        for r in p["runs"]:
            attempted += 1
            if r["err"] is not None:
                failed += 1
                notes.append(f"{r['q']} pass {p['idx']}: {r['err']}")
                continue
            fp = (r["rows"], r["fp"])
            if first.setdefault(r["q"], fp) != fp:
                failed += 1
                notes.append(f"{r['q']} pass {p['idx']}: fingerprint {fp} != {first[r['q']]}")
    return attempted, failed, notes


def sum_runs(p, key):
    return sum(r[key] for r in p["runs"])


def end_to_end(setup_s, res):
    meas = [p for p in res["passes"] if p["kind"] == "measured"]
    walls = [r["build_s"] + r["plan_s"] + r["exec_s"] for p in meas for r in p["runs"]]
    deciles = statistics.quantiles(walls, n=10, method="inclusive")
    m = {
        "setup_s": (setup_s, "s"),
        "pass_s": (median([p["wall_s"] for p in meas]), "s"),
        "query_p50_s": (deciles[4], "s"),
        "query_p90_s": (deciles[8], "s"),
        "cpu_s": (median([p["cpu_s"] for p in meas]), "s"),
        "heap_live_mb": (res["heap_live_mb"], "MiB"),
        "tmp_disk_mb": (sum(res["tmp_disk_bytes"].values()) / 1048576.0, "MiB"),
    }
    info = (f"session_s={res['session_s']:.2f} cold_s={res['passes'][0]['wall_s']:.2f} "
            f"warmup_s={sum(p['wall_s'] for p in res['passes'] if p['kind'] == 'warmup'):.2f} "
            f"after_window_s={res['after_window_s']:.2f} "
            f"passes={len(meas)} pass_walls={[round(p['wall_s'], 3) for p in meas]} "
            f"query_samples={len(walls)} window_s={res['window_s']:.2f} "
            f"host_steal_pct={res['host_steal_pct']:.2f} "
            f"jit_s={res['jit_window_s'] / max(1, len(meas)):.3f}")
    return m, info


def per_layer(res):
    passes = res["passes"]
    meas = [p for p in passes if p["kind"] == "measured"]
    traced = [p for p in meas if p["traced"]]
    plain = [p for p in meas if not p["traced"]]
    layers = {l["pass"]: l for l in res["layers"]}
    mib = 1048576.0

    def lay(phases, key, scale=1.0):
        return median([sum(layers[p["idx"]][ph][key] for ph in phases) * scale
                       for p in traced])

    phases = ("build", "plan", "exec")
    exec_s = median([sum_runs(p, "exec_s") for p in traced])
    run_exec = median([layers[p["idx"]]["exec"]["task_run_ms"] / 1e3 / sum_runs(p, "exec_s")
                       for p in traced if sum_runs(p, "exec_s") > 0])
    cold_build = sum_runs(passes[0], "build_s")
    warm_build = median([sum_runs(p, "build_s") for p in meas])
    m = {
        "build_s": median([sum_runs(p, "build_s") for p in traced]),
        "plan_s": median([sum_runs(p, "plan_s") for p in traced]),
        "plan.analysis_s": median([sum_runs(p, "analysis_s") for p in traced]),
        "plan.optimization_s": median([sum_runs(p, "optimization_s") for p in traced]),
        "plan.planning_s": median([sum_runs(p, "planning_s") for p in traced]),
        "jobs": lay(phases, "jobs"),
        "stages": lay(phases, "stages"),
        "tasks": lay(phases, "tasks"),
        "sched_delay_s": lay(phases, "sched_delay_ms", 1e-3),
        "exec_s": exec_s,
        "task_run_s": lay(phases, "task_run_ms", 1e-3),
        "task_cpu_s": lay(phases, "task_cpu_ns", 1e-9),
        "slot_busy_ratio": run_exec / res["cpus"],
        "scan_mb": lay(phases, "scan_bytes", 1 / mib),
        "shuffle_write_mb": lay(phases, "shuffle_write_bytes", 1 / mib),
        "shuffle_read_mb": lay(phases, "shuffle_read_bytes", 1 / mib),
        "result_rows": median([sum_runs(p, "rows") for p in traced]),
        "artifact_build_s": cold_build - warm_build,
        "gc_s": median([p["gc_s"] for p in meas]),
        "jit_s": res["jit_window_s"] / max(1, len(meas)),
        "warm_s": sum(p["wall_s"] for p in passes if p["kind"] == "warmup"),
        "host_steal_pct": res["host_steal_pct"],
        "trace_overhead_pct": 100.0 * (median([p["wall_s"] for p in traced]) /
                                       median([p["wall_s"] for p in plain]) - 1.0),
    }
    units = {n: u for n, u, _ in LAYERS}
    maps = {n: t for n, _, t in LAYERS}
    report = [f"{'metric':22s} {'value':>12s} {'unit':6s} moves"]
    report += [f"{n:22s} {m[n]:12.4f} {units[n]:6s} {maps[n]}" for n, _, _ in LAYERS]
    spill = lay(phases, "spill_bytes", 1 / mib)
    report.append(f"{'spill_mb':22s} {spill:12.4f} {'MiB':6s} pass_s on corpus_serve")
    mods = {}
    for p in traced:
        for r in p["runs"]:
            per_pass = mods.setdefault(res["module_of"][r["q"]], {})
            per_pass[p["idx"]] = per_pass.get(p["idx"], 0.0) + r["build_s"]
    for mod, by_pass in sorted(mods.items()):
        report.append(f"{'build_s.' + mod:22s} {median(list(by_pass.values())):12.4f} "
                      f"{'s':6s} pass_s, query_p50_s on dag_monitor")
    for prefix, b in sorted(res["tmp_disk_bytes"].items()):
        if b:
            report.append(f"{'tmp_disk_mb.' + prefix:22s} {b / mib:12.4f} {'MiB':6s} "
                          "setup_s, tmp_disk_mb on corpus_serve")
    report.append(f"traced passes={len(traced)} untraced passes={len(plain)}")
    return {k: (v, units[k]) for k, v in m.items()}, report


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=2,
                    help="task threads, local[N]; keep below nproc")
    ap.add_argument("--heap", default="3g", help="-Xms = -Xmx of the JVMs")
    args = ap.parse_args()
    wl = WORKLOADS[args.workload]
    try:
        build.build()
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2

    logs = os.path.join(build.BUILD, "logs")
    os.makedirs(logs, exist_ok=True)
    log = os.path.join(logs, f"{args.workload}.log")
    open(log, "w").close()
    run_dir = os.path.join(build.BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        setup_s, res = launch(java_cmd(args, run_dir, wl, args.trace == 1), run_dir, log)
        attempted, failed, notes = check_runs(res["passes"])
        checked, ofails = oracle_check(res, run_dir)
        attempted += len(checked)
        failed += len(ofails)
        notes += [f"{q} oracle: {e}" for q, e in ofails.items()]
        if args.trace:
            trace_dir = os.path.join(build.BUILD, "trace")
            os.makedirs(trace_dir, exist_ok=True)
            shutil.copy(os.path.join(run_dir, "out", "spans.jsonl"),
                        os.path.join(trace_dir, f"{args.workload}-{args.seed}.spans.jsonl"))
    except Exception as e:
        print(f"perfbench: run failed: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    e2e, info = end_to_end(setup_s, res)
    print(f"workload={args.workload} seed={args.seed} cpus={args.cpus} heap={args.heap} "
          f"queries={len(wl['queries'])} warmup_passes={wl['warmup']} {info}")
    print(f"oracle: {len(checked)} checked, {len(ofails)} mismatched; "
          f"no oracle: {sorted(set(wl['queries']) - set(checked))}")
    for n in notes[:20]:
        print(f"FAILED {n}")
    if args.trace:
        metrics, report = per_layer(res)
        print("\n".join(report))
    else:
        metrics = e2e
        for k, (v, u) in e2e.items():
            print(f"{k:14s} {v:12.4f} {u}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
