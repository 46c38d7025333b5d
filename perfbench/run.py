#!/usr/bin/env python3
"""The repository benchmark: one closed-loop workload per invocation.

    python3 perfbench/run.py --workload declared --seed 1 --seconds 15 --trace 0

Run from the root of a checkout.  One Python process drives one client:
each engine call waits for its result before the next is sent.  Spark
runs as local[nproc].  The run

1. times a DuckDB control query (the contention bracket, before);
2. sets the workload up (session start, seeded inputs, caching) once
   cold, with the JVM launch, then twice more, warm, each time in a
   fresh session, and reports the median of the warm set-ups; then runs
   the workload's warm-up operations once, untimed, in the last session;
3. repeats whole passes of the workload's operations until `--seconds`
   have passed (at least one pass);
4. checks every output against an independent answer, outside the
   timed region;
5. times the control query again (the bracket, after).

With `--trace 0` the last stdout line carries the end-to-end metrics;
with `--trace 1` spans are recorded around every call and the last line
carries the per-layer metrics.  The line before it is a JSON object
with the run's details (environment, percentiles, module breakdown),
and the spans go to `.perfbench/traces/`.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench")

SIZES = {
    "declared": {"sf": 0.01},
    "distributed": {
        "edges": 20_000, "nodes": 1_000, "pr_iters": 3,
        "docs": 5_000,
        "vectors": 10_000, "dim": 16, "probes": 200, "lsh_planes": 8, "lsh_tables": 2,
        "changes": 50_000, "entities": 1_000, "append": 5_000,
        "vam_probes": 5_000, "range_months": (1, 6),
    },
}
# the sizes the tests run at
SMOKE_SIZES = {
    "declared": {"sf": 0.001},
    "distributed": dict(
        SIZES["distributed"], edges=10_000, nodes=500, docs=2_000, vectors=2_000,
        probes=50, changes=50_000, entities=1_000, append=5_000, vam_probes=2_000,
    ),
}
SETUP_REPS = 2  # warm set-ups, after the cold first one
CONTROL_SF = 0.02  # control tables: fixed seed, independent of --seed
CONTROL_SETTLE_S = 0.5  # after the JVM has exited, before the second control
RUN_BUDGET_S = 150.0  # stop starting passes past this (the run must end by 180 s)


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def configure_env(cpus: int, driver_mem_mb: int) -> dict:
    """Session sizing and scratch locations, all inside the checkout.
    Must run before pyspark or tempfile pick their defaults."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    conf = {
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    os.environ.update({
        "TZ": "UTC",
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_mem_mb}m",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        ),
        "PYSPARK_SUBMIT_ARGS": " ".join(
            f"--conf {k}={v}" for k, v in conf.items()
        ) + " pyspark-shell",
    })
    time.tzset()
    return conf


def reset_peak_rss() -> None:
    """Restart the kernel's peak-RSS count (VmHWM) from the current RSS,
    so the peak read later covers only what ran in between."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def peak_rss_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM in /proc/self/status")


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to others, summed over all CPUs
    (the steal column of /proc/stat): contention the bracket can miss."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _versions(spark) -> dict:
    import duckdb
    import pyspark

    return {
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
        "spark": spark.version,
        "duckdb": duckdb.__version__,
        "java": spark._jvm.System.getProperty("java.version"),
    }


class Session:
    """Starts and stops the engine's session, and the JVM at the end."""

    def __init__(self):
        self.spark = None

    def start(self):
        from graph_spark.session import get_spark

        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session and the JVM it runs in, and wait for it."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def run(args) -> tuple[dict, dict]:
    from perfbench import stats, trace, workloads

    t_proc = time.perf_counter()
    sizes = (SMOKE_SIZES if args.size == "smoke" else SIZES)[args.workload]
    cpus = len(os.sched_getaffinity(0))  # what nproc reports
    mem_mb = _mem_total_mb()
    driver_mem_mb = min(4096, mem_mb // 4)
    conf = configure_env(cpus, driver_mem_mb)

    import bench

    from perfbench import datagen

    control_dir = os.path.join(WORK, "control")
    datagen.write_tpch(control_dir, CONTROL_SF, 0, only=("lineitem", "orders"))
    control_before = bench.duckdb_control(control_dir)

    tracer = trace.Tracer(bool(args.trace))
    wl = workloads.WORKLOADS[args.workload](
        seed=args.seed, work_dir=os.path.join(WORK, "data"), sizes=sizes
    )
    session = Session()
    detail: dict = {"workload": args.workload, "seed": args.seed, "sizes": sizes}
    try:
        # -- set-up.  The first one launches the JVM and runs cold.  Then
        # the set-up is repeated warm, each time in a fresh session;
        # setup_s is the median of those.  The warm-up follows, untimed,
        # in the session the timed phase uses (a new session starts new
        # Python workers): first calls of a code path (class loading, JIT,
        # code generation, imports) take up to six times as long as warm
        # ones.
        setup_s, inputs_s, cache_s, start_s = [], [], [], []
        for rep in range(1 + SETUP_REPS):
            if rep:
                wl.teardown_inputs()
                session.stop()
            t0 = time.perf_counter()
            wl.spark = session.start()
            start_s.append(time.perf_counter() - t0)
            tracer.bind(wl.spark.sparkContext)
            with tracer.span("bench.setup", layer="bench", rep=rep):
                parts = wl.setup(tracer)
            setup_s.append(time.perf_counter() - t0)
            inputs_s.append(parts["inputs_s"])
            cache_s.append(parts["cache_s"])
        t0 = time.perf_counter()
        warmup = run_ops(wl.warmup_ops(), trace.Tracer(False), pass_no=-1)
        warmup_s = time.perf_counter() - t0
        warmup_errors = [f"warm-up: {r.error}" for r in warmup if r.error]

        spark = wl.spark
        detail["session_conf"] = {
            k: spark.conf.get(k) for k in (
                "spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions",
                "spark.sql.adaptive.enabled", "spark.sql.autoBroadcastJoinThreshold",
            )
        } | conf
        detail["versions"] = _versions(spark)

        # -- timed phase: whole passes, closed loop, one client; garbage
        # left by the set-ups is collected first, outside the timing, and
        # the peak RSS counts from here
        gc.collect()
        spark._jvm.System.gc()
        reset_peak_rss()
        results: list[workloads.OpResult] = []
        pass_s: list[float] = []
        op_spans: list[list] = []
        t_start, steal_start = time.perf_counter(), cpu_steal_s()
        n_pass = 0
        while n_pass == 0 or (
            time.perf_counter() - t_start < args.seconds
            and time.perf_counter() - t_proc < RUN_BUDGET_S
        ):
            t_pass = time.perf_counter()
            done = run_ops(wl.ops(n_pass), tracer, n_pass, first_id=len(results) + 1)
            pass_s.append(time.perf_counter() - t_pass)
            results += done
            op_spans.append([r.span for r in done if r.span is not None])
            n_pass += 1
        timed_s = time.perf_counter() - t_start
        rss_mb = peak_rss_mb()
        steal_s = cpu_steal_s() - steal_start

        # -- correctness, outside the timed region
        t0 = time.perf_counter()
        for r in results:
            if r.error is None:
                r.error = r.op.check(r.output)
            r.output = None
        run_errors = warmup_errors + wl.finish()
        check_s = time.perf_counter() - t0

        status = trace.read_status(spark.sparkContext) if args.trace else None
        detail["files"] = _dir_stats(getattr(wl, "store_dir", None))
    finally:
        wl.teardown_inputs()
        session.shutdown()

    time.sleep(CONTROL_SETTLE_S)
    control_after = bench.duckdb_control(control_dir)

    lat = [r.latency_s for r in results]
    failed = sum(1 for r in results if r.error) + len(run_errors)
    attempted = len(results) + len(warmup) + wl.run_checks
    tail_v, tail_pct, n = stats.tail(lat)
    e2e = {
        "setup_s": (stats.median(setup_s[1:]), "s"),
        "pass_s": (stats.median(pass_s), "s"),
        "op_geomean_s": (stats.geomean(lat), "s"),
        "driver_rss_mb": (rss_mb, "MB"),
    }
    detail.update({
        "env": {"nproc": cpus, "mem_total_mb": mem_mb, "driver_mem_mb": driver_mem_mb},
        "passes": n_pass, "pass_s": pass_s, "ops": len(results), "timed_s": timed_s,
        "op_p50_s": stats.median(lat), "op_tail_s": tail_v,
        "op_tail_percentile": tail_pct, "op_samples": n,
        "setup_reps_s": setup_s, "session_start_s": start_s, "warmup_s": warmup_s,
        "check_s": check_s,
        "control_s": [control_before, control_after],
        "cpu_steal_s": steal_s,
        "errors": [r.error for r in results if r.error] + run_errors,
        "per_call_s": _per_call(results),
        "counters": wl.counters,
    })
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    if args.trace:
        layer = per_layer(tracer, status, op_spans, setup_s, start_s, inputs_s, cache_s,
                          warmup_s, timed_s, control_before, control_after)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layer["metrics"].items()}
        detail["modules"] = layer["modules"]
        detail["e2e_traced"] = {k: v for k, (v, _) in e2e.items()}
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        path = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"detail": detail, "spans": tracer.dump()}, f)
        detail["trace_file"] = os.path.relpath(path, ROOT)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    return result, detail


def run_ops(ops, tracer, pass_no: int, first_id: int = 1) -> list:
    """Run `ops` one at a time, each waiting for its result, each in a
    span of its own; an op that raises is a failed op."""
    from perfbench.workloads import OpResult

    done = []
    for i, op in enumerate(ops):
        t0 = time.perf_counter()
        try:
            with tracer.span(op.name, op_id=first_id + i, layer=op.layer,
                             pass_no=pass_no) as sp:
                out = op.run(tracer)
            done.append(OpResult(op, time.perf_counter() - t0, out, span=sp))
        except Exception as e:
            traceback.print_exc()
            done.append(OpResult(op, time.perf_counter() - t0,
                                 error=f"{op.name}: {type(e).__name__}: {e}"))
    return done


def _per_call(results) -> dict:
    by: dict = {}
    for r in results:
        by.setdefault(r.op.name, []).append(r.latency_s)
    return dict(sorted(by.items()))


def _dir_stats(path) -> dict | None:
    """Files and bytes the writers left under `path`."""
    if not path or not os.path.isdir(path):
        return None
    files = nbytes = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                nbytes += os.path.getsize(os.path.join(root, n))
    return {"parquet_files": files, "parquet_bytes": nbytes}


# the per-layer metrics of a traced run (BENCHMARK.json "per_layer")
def per_layer(tracer, status, op_spans, setup_s, start_s, inputs_s, cache_s,
              warmup_s, timed_s, control_before, control_after) -> dict:
    from perfbench import stats, trace

    stages, jobs = status
    m: dict = {
        "session.get_spark_s": (start_s[0], "s"),
        "session.restart_s": (stats.median(start_s[1:]), "s"),
        "setup.first_s": (setup_s[0], "s"),
        "setup.warmup_s": (warmup_s, "s"),
        "setup.inputs_s": (stats.median(inputs_s[1:]), "s"),
        "setup.cache_s": (stats.median(cache_s[1:]), "s"),
        "ops.per_pass": (float(stats.median(len(p) for p in op_spans)), "count"),
    }
    phase = {k: [] for k in ("build", "plan", "exec", "self")}
    stage_rows = []
    for spans in op_spans:
        sums = {k: 0.0 for k in phase}
        everything = []
        for sp in spans:
            kids = tracer.descendants(sp)
            everything += [sp] + kids
            for c in tracer.children(sp):
                if c.attrs.get("phase") in sums:
                    sums[c.attrs["phase"]] += c.duration
            sums["self"] += trace.self_time(sp, tracer.children(sp))
        for k in phase:
            phase[k].append(sums[k])
        stage_rows.append(
            trace.stage_set(everything, stages, jobs, covering=spans, covering_all=everything))
    for k in ("build", "plan", "exec", "self"):
        m[f"ops.{k}_s"] = (stats.median(phase[k]), "s")
    for k in trace.STAGE_METRICS:
        unit = "s" if k.endswith("_s") else ("bytes" if k.endswith("_bytes") else
                                             ("ratio" if k == "task_skew" else "count"))
        m[f"spark.{k}"] = (stats.median(r[k] for r in stage_rows), unit)
    m["bench.control_s"] = (control_before, "s")
    m["bench.control_ratio"] = (control_after / control_before, "ratio")
    m["bench.trace_overhead_ratio"] = (tracer.overhead_s / timed_s, "ratio")
    return {"metrics": m, "modules": module_breakdown(tracer, stages, jobs, op_spans)}


def module_breakdown(tracer, stages, jobs, op_spans) -> dict:
    """Per engine module: the stage set of its timed calls (per pass) and
    the median seconds of each call and call phase."""
    from perfbench import stats, trace

    timed = [sp for spans in op_spans for sp in spans]
    timed += [d for sp in list(timed) for d in tracer.descendants(sp)]
    passes = max(len(op_spans), 1)
    out: dict = {}
    for layer in sorted({sp.attrs["layer"] for sp in timed}):
        mine = [sp for sp in timed if sp.attrs["layer"] == layer]
        mine_ids = {sp.span_id for sp in mine}
        top = [sp for sp in mine if sp.parent_id not in mine_ids]
        under = top + [d for sp in top for d in tracer.descendants(sp)]
        st = trace.stage_set(mine, stages, jobs, covering=top, covering_all=under)
        entry = {k: v if k == "task_skew" else v / passes for k, v in st.items()}
        calls: dict = {}
        for sp in mine:
            calls.setdefault(sp.name, []).append(sp.duration)
        entry["calls_p50_s"] = {k: stats.median(v) for k, v in sorted(calls.items())}
        out[layer] = entry
    last_setup = [sp for sp in tracer.spans if sp.name == "bench.setup"][-1]
    out["setup_calls_s"] = {sp.name: sp.duration for sp in tracer.children(last_setup)}
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("declared", "distributed"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "smoke"), default="full")
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:  # the engine and its bench helpers come from the checkout
        import bench  # noqa: F401
        import graph_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    scratch = [os.path.join(WORK, d) for d in ("data", "tmp", "spark-local")]
    for d in scratch:  # what an earlier run left behind
        shutil.rmtree(d, ignore_errors=True)
    result, detail = run(args)
    for d in scratch:
        shutil.rmtree(d, ignore_errors=True)
    print(json.dumps(detail, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
