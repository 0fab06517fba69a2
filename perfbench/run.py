#!/usr/bin/env python3
"""Layer-attributed benchmark of the graft library.

Usage (from the repository root):

    python3 perfbench/run.py --workload mr_batch --seed 1 --seconds 10 --trace 0

Workloads (see BENCHMARK.json for why each exists):

* ``mr_batch``       -- BatchSpec jobs through ``Engine.run`` over a seeded
                        Zipf text corpus, each writing text output.
* ``dedup_pipeline`` -- headline rows of ``graft.operators.Dedup``.

The first run builds the library and the harness from source with sbt
(``perfbench/build.sbt``) into the build directory (``$CARGO_TARGET_DIR``,
default ``.bench_build``). Each run then makes its inputs from ``--seed``,
starts one JVM that starts the Spark session several times, runs untimed
warm passes over the workload's operations and then round(seconds / 4)
timed passes (on a 4-core host a pass takes about 4 s on ``mr_batch`` and
6 s on ``dedup_pipeline``), checks every output (MapReduce counts in plain
Python; query rows, written by an extra warm pass, against DuckDB running
the library's oracle SQL) and prints one JSON line last:
end-to-end metrics with ``--trace 0``, per-layer metrics with ``--trace 1``.
The line before it carries diagnostics (failed-op share, tail percentile,
host-load probe, generation time). A traced run also leaves its per-op
layer rows and span tree under ``<build dir>/perfbench-trace/``.

``--plant-wrong`` corrupts one output before the check, to show that a
wrong result is caught.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

# Operations per workload. A run makes round(seconds / PASS_S) timed passes
# (at least MIN_PASSES), so every run of a workload measures the same work.
# Each workload has an odd number of operations: the median of the pooled
# latencies then falls inside one operation's samples rather than in the
# gap between two operations'.
WORKLOADS = {
    "mr_batch": {
        "ops": ["sum_ints", "lower_count", "shuffle_tokens", "rest_tokens", "line_count",
                "line_max", "count_hist"],
        "corpus": {"files": 8, "lines_per_file": 6000, "vocab_size": 20000},
    },
    "dedup_pipeline": {
        "ops": ["q_dedup_minhash_lsh", "q_dedup_clusters", "q_dedup_semantic",
                "q_dedup_exact", "q_dedup_apply_cc", "q_pipeline_audit",
                "q_cross_source_dups"],
        "scale": 0.01,
    },
}
SETUP_REPS = 3
WARM_PASSES = 2
PASS_S = 4.0
MIN_PASSES = 2

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=1):
    log(msg)
    sys.exit(code)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or os.path.join(ROOT, ".bench_build")
    return os.path.abspath(d)


def source_key():
    """Fingerprint of everything the build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "src")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(deadline):
    """Compiles library + harness with sbt once; returns the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("library sources (src/main/scala) not found next to perfbench/", 2)
    out = build_dir()
    os.makedirs(out, exist_ok=True)
    stamp = os.path.join(out, "perfbench-classpath.txt")
    key = source_key()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            k, cp = fh.read().split("\n", 1)
        if k == key:
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    logf = os.path.join(out, "perfbench-build.log")
    log(f"building with sbt (log: {logf})")
    t0 = time.time()
    with open(logf, "w") as fh:
        try:
            r = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 "compile", "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=fh, text=True,
                timeout=max(10, deadline - time.time()))
        except (OSError, subprocess.TimeoutExpired) as e:
            fail(f"build failed: {e}", 2)
        fh.write(r.stdout)
    cps = [ln for ln in r.stdout.splitlines() if "scala-2.13/classes" in ln]
    if r.returncode != 0 or not cps:
        fail(f"build failed (exit {r.returncode}); see {logf}", 2)
    log(f"built in {time.time() - t0:.0f} s")
    cp = cps[-1].strip()
    with open(stamp, "w") as fh:
        fh.write(key + "\n" + cp + "\n")
    return cp


def heap():
    """Driver heap from MemTotal: half the RAM, clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def percentile_tail(xs):
    """Highest percentile with at least 10 samples beyond it."""
    s = sorted(xs)
    n = len(s)
    if n < 11:
        return s[-1], 100.0 * (n - 1) / n
    return s[n - 11], 100.0 * (n - 10) / n


def dir_bytes(d):
    return sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d))


def spec_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def setup_s(res):
    """Median session start over the set-ups, plus the warm passes."""
    return statistics.median(s["s"] for s in res["setups"]) + res["warm"]["s"]


def untraced_latencies(res):
    traced = {p["pass"] for p in res["passes"] if p["traced"]}
    return [o["latency_s"] for o in res["ops"] if o["pass"] not in traced]


def e2e_metrics(res, wl, input_mb):
    lat = untraced_latencies(res)
    wall = statistics.median(p["wall_s"] for p in res["passes"] if not p["traced"])
    tail, _ = percentile_tail(lat)
    return {
        "setup_s": (setup_s(res), "s"),
        "wall_s": (wall, "s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "op_tail_s": (tail, "s"),
        "input_mb_per_s": (input_mb * len(wl["ops"]) / wall, "MB/s"),
    }


def peak_heap_mb(res):
    """Highest old-generation occupancy seen after the between-pass GCs."""
    return max([p["old_gen_mb"] for p in res["passes"]] + [res["final_old_gen_mb"]])


def layer_metrics(res, rows, workload, map_out, cpus):
    traced = [p for p in res["passes"] if p["traced"]]
    k = len(traced)

    def tot(field):
        return sum(r[field] for r in rows) / k

    def engine(field):  # engine metrics count on the MapReduce workload only
        return tot(field) if workload == "mr_batch" else 0.0

    mapped = [r for r in rows if r["op"] in map_out]
    shuffled = sum(r["shuffle_records"] for r in mapped)
    map_recs = sum(map_out[r["op"]] for r in mapped)
    stages = sum(r["stages"] for r in rows)
    tasks = sum(r["tasks"] for r in rows)
    exec_wall = sum(r["exec_wall_ms"] for r in rows)
    wall = sum(r["wall_ms"] for r in rows)
    untraced = [p["wall_s"] for p in res["passes"] if not p["traced"]]
    return {
        "engine.plan_ms": (tot("engine_plan_ms"), "ms"),
        "engine.records_in": (engine("scan_records"), "count"),
        "engine.shuffle_records": (engine("shuffle_records"), "count"),
        "engine.combine_ratio": (shuffled / map_recs if map_recs else 0.0, "ratio"),
        "engine.commit_ms": (tot("commit_ms"), "ms"),
        "engine.output_bytes": (engine("write_bytes"), "bytes"),
        "sources.scan_bytes": (tot("scan_bytes"), "bytes"),
        "sources.scan_records": (tot("scan_records"), "count"),
        "sources.schema_jobs": (tot("schema_jobs"), "count"),
        "sources.write_bytes": (tot("write_bytes"), "bytes"),
        "warehouse.builds": (res["warm"]["builds"], "count"),
        "warehouse.build_s": (res["warm"]["build_s"], "s"),
        "construction.ms": (tot("construction_ms"), "ms"),
        "construction.jobs": (tot("construction_jobs"), "count"),
        "construction.fixpoint_jobs": (tot("fixpoint_jobs"), "count"),
        "catalyst.analysis_ms": (tot("analysis_ms"), "ms"),
        "catalyst.optimization_ms": (tot("optimization_ms"), "ms"),
        "catalyst.planning_ms": (tot("planning_ms"), "ms"),
        "codegen.compiles": (tot("codegen_compiles"), "count"),
        "codegen.compile_ms": (tot("codegen_compile_ms"), "ms"),
        "codegen.self_ms": (tot("codegen_ms"), "ms"),
        "codegen.setup_compiles": (res["warm"]["compiles"], "count"),
        "codegen.setup_compile_ms": (res["warm"]["compile_ms"], "ms"),
        "exec.ms": (tot("exec_ms"), "ms"),
        "exec.driver_ms": (tot("exec_driver_ms"), "ms"),
        "exec.jobs": (tot("exec_jobs"), "count"),
        "exec.stages": (stages / k, "count"),
        "exec.tasks": (tasks / k, "count"),
        "exec.tasks_per_stage": (tasks / stages if stages else 0.0, "ratio"),
        "exec.slot_util": (sum(r["task_ms"] for r in rows) / (cpus * exec_wall)
                           if exec_wall else 0.0, "ratio"),
        "exec.task_cpu_s": (tot("task_cpu_s"), "s"),
        "exec.task_gc_s": (tot("task_gc_s"), "s"),
        "exec.task_deser_s": (tot("task_deser_s"), "s"),
        "exec.stage_tail_ms": (tot("stage_tail_ms"), "ms"),
        "exec.task_success_frac": (sum(r["tasks_ok"] for r in rows) / tasks
                                   if tasks else 1.0, "ratio"),
        "exec.peak_exec_mem_mb": (max(r["peak_exec_mem_mb"] for r in rows), "MB"),
        "shuffle.write_bytes": (tot("shuffle_bytes"), "bytes"),
        "shuffle.write_ms": (tot("shuffle_write_ms"), "ms"),
        "shuffle.fetch_wait_ms": (tot("fetch_wait_ms"), "ms"),
        "shuffle.spill_bytes": (tot("spill_bytes"), "bytes"),
        "jvm.gc_ms": (sum(p["gc_ms"] for p in traced) / k, "ms"),
        "jvm.peak_heap_mb": (peak_heap_mb(res), "MB"),
        "driver.unattributed_ms": (tot("unattributed_ms"), "ms"),
        "driver.unattributed_frac": (sum(r["unattributed_ms"] for r in rows) / wall, "ratio"),
        "driver.unattributed_max_frac": (max(r["unattributed_ms"] / r["wall_ms"] for r in rows),
                                         "ratio"),
        "trace.op_wall_ms": (wall / k, "ms"),
        "trace.overhead_ms": (1000 * (statistics.median(p["wall_s"] for p in traced)
                                      - statistics.median(untraced)), "ms"),
        "trace.rows": (len(rows) / k, "count"),
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--plant-wrong", action="store_true",
                    help="corrupt one output before the check")
    args = ap.parse_args()
    started = time.time()
    wl = WORKLOADS[args.workload]
    trace = bool(args.trace)
    wanted_units = spec_metrics(trace)
    cp = build(started + 840)

    runs = os.path.join(build_dir(), "perfbench-runs")
    os.makedirs(runs, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=runs)
    try:
        result = run(args, wl, cp, work, trace, started)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    diag, out = result
    got_units = {k: v[1] for k, v in out["metrics"].items()}
    if got_units != wanted_units:
        fail(f"metrics {sorted(got_units.items())} do not match BENCHMARK.json "
             f"{sorted(wanted_units.items())}")
    out["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in out["metrics"].items()}
    print(json.dumps(diag, sort_keys=True))
    print(json.dumps(out))


def run(args, wl, cp, work, trace, started):
    cpus = len(os.sched_getaffinity(0))
    seed = args.seed
    t0 = time.time()
    data = os.path.join(work, "data")
    corpus = os.path.join(work, "corpus")
    ops = list(wl["ops"])
    if args.workload == "mr_batch":
        input_bytes = gen.corpus(corpus, seed, **wl["corpus"])
        expected, map_out = check.corpus_expectations(corpus)
    else:
        gen.tables(data, seed, wl["scale"])
        input_bytes = dir_bytes(data)
        random.Random(seed).shuffle(ops)
        map_out = {}
    gen_s = time.time() - t0
    passes = max(MIN_PASSES, round(args.seconds / PASS_S))
    cfg = {
        "workload": args.workload, "ops": ops, "trace": trace,
        "cpus": cpus, "setup_reps": SETUP_REPS, "warm_passes": WARM_PASSES, "passes": passes,
        "data_dir": data, "corpus_dir": corpus, "work": work,
        "check_queries": args.workload != "mr_batch",
    }
    with open(os.path.join(work, "config.json"), "w") as fh:
        json.dump(cfg, fh)
    local = os.path.join(work, "local")
    os.makedirs(local)
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    cmd = (["java", f"-Xmx{heap()}", "-Xms1g", "-Djava.io.tmpdir=" + local]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Harness", os.path.join(work, "config.json")])
    jvm_log = os.path.join(work, "jvm.log")
    with open(jvm_log, "w") as fh:
        try:
            r = subprocess.run(cmd, env=env, stdout=fh, stderr=subprocess.STDOUT,
                               timeout=max(10, started + 170 - time.time()))
            code = r.returncode
        except subprocess.TimeoutExpired:
            code = "timeout"
    if code != 0:
        with open(jvm_log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"harness JVM failed ({code})", 3)
    jvm_s = time.time() - t0 - gen_s
    with open(os.path.join(work, "result.json")) as fh:
        res = json.load(fh)

    # ---- correctness: every timed operation's output is checked
    timed = res["ops"]
    wrong = {}
    self_check = True
    if args.workload == "mr_batch":
        if args.plant_wrong:
            victim = next(o["out"] for o in timed if o["name"] == "sum_ints")
            part = next(f for f in sorted(os.listdir(victim)) if f.startswith("part-"))
            with open(os.path.join(victim, part), "a") as fh:
                fh.write("planted 1\n")
        planted_done = False
        for o in timed:
            if not o["ok"]:
                continue
            try:
                got, keys_in = check.read_output(o["out"])
            except (OSError, ValueError) as e:
                wrong[o["id"]] = str(e)
                continue
            reason = check.compare_mr(o["name"], got, keys_in, expected)
            if reason:
                wrong[o["id"]] = reason
            elif not planted_done:
                self_check = check.planted_mr_caught(o["name"], got, keys_in, expected)
                planted_done = True
    else:
        with open(os.path.join(work, "oracle.json")) as fh:
            oracle_sql = json.load(fh)
        oracle = check.Oracle(data)
        bad_query = dict(res["check_errors"])
        planted = self_tested = False
        for name in sorted(set(ops) - set(bad_query)):
            got = oracle.result(os.path.join(work, "check", name))
            sql = oracle_sql[name]
            if args.plant_wrong and sql and not planted:
                got = got.astype(str)
                got.iloc[0, 0] = got.iloc[0, 0] + "~planted"
                planted = True
            reason = oracle.compare(got, sql)
            if reason:
                bad_query[name] = reason
            elif sql and not self_tested:
                self_check = oracle.planted_caught(got, sql)
                self_tested = True
        for o in timed:
            if o["name"] in bad_query:
                wrong[o["id"]] = bad_query[o["name"]]
    failed_ids = {o["id"] for o in timed if not o["ok"]} | set(wrong)
    attempted = len(timed)

    if trace:
        with open(os.path.join(work, "rows.jsonl")) as fh:
            rows = [json.loads(ln) for ln in fh if ln.strip()]
        metrics = layer_metrics(res, rows, args.workload, map_out, cpus)
        keep = os.path.join(build_dir(), "perfbench-trace")
        os.makedirs(keep, exist_ok=True)
        for f in ("rows.jsonl", "spans.jsonl"):
            shutil.copy(os.path.join(work, f), os.path.join(keep, f"{args.workload}.{f}"))
    else:
        metrics = e2e_metrics(res, wl, input_bytes / 1e6)
    lat = untraced_latencies(res)
    _, tail_pct = percentile_tail(lat)
    errors = {o["name"]: o["error"] for o in timed if o["error"]}
    errors.update({str(k): v for k, v in wrong.items()})
    by_op = {}
    for o in timed:
        by_op.setdefault(o["name"], []).append(o["latency_s"])
    diag = {
        "detail": "perfbench_diagnostics", "workload": args.workload, "seed": seed,
        "trace": args.trace, "failed_op_frac": len(failed_ids) / attempted,
        "peak_heap_mb": peak_heap_mb(res),
        "checker_self_test": self_check, "op_tail_pct": round(tail_pct, 2),
        "op_tail_samples": len(lat), "gen_s": round(gen_s, 3), "jvm_s": round(jvm_s, 3),
        "check_s": round(time.time() - t0 - gen_s - jvm_s, 3),
        "input_mb": round(input_bytes / 1e6, 3), "cpus": cpus, "heap": heap(),
        "passes": [{k: p[k] for k in ("wall_s", "traced", "gc_ms", "jit_ms", "compiles",
                                        "compile_ms", "old_gen_mb", "steal_frac")}
                   for p in res["passes"]],
        "setups": res["setups"], "warm": res["warm"], "setup_errors": res["setup_errors"],
        "load_probe_1_vs_n": res["probe"], "jvm_phase_s": res["phase_s"],
        "errors": dict(list(errors.items())[:10]),
        "op_latency_s": {k: [round(x, 4) for x in v] for k, v in sorted(by_op.items())},
    }
    out = {"correct": not failed_ids and self_check, "attempted": attempted,
           "failed": len(failed_ids), "metrics": metrics}
    return diag, out


if __name__ == "__main__":
    main()
