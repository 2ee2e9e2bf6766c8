"""Benchmark of the BM25 serving engine, end to end and per layer.

    python3 perfbench/run.py --workload text_serve --seed 1 --seconds 10 --trace 0

``--workload`` is ``text_serve``, ``code_distributed``, ``code_lifecycle``
(see perfbench/workloads.py for why each exists) or ``all``. The same
seed gives the same inputs and the same op sequence. The run measures
for ``--seconds`` (the lifecycle workload runs whole ingest cycles until
the time is up and one compaction has run),
checks every answer against ``BM25Oracle`` and prints a report, then,
as the last line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics of BENCHMARK.json. A traced run wraps engine entry
points from the benchmark's files, keeps spans in memory and writes
them to ``.bench_work/traces/`` at the end. The benchmark runs Spark on
``local[<cpus>]`` with every scratch file under ``.bench_work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")


def configure_env() -> dict:
    """Pin the engine to this host before Spark starts: every core, a
    driver heap sized to the machine (get_spark defaults to 64g), scratch
    space inside the checkout and Python workers importing this checkout."""
    cpus = len(os.sched_getaffinity(0))
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    driver_gb = max(1, min(4, int(mem_gb // 4)))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEMORY=f"{driver_gb}g",
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        SPARK_WAREHOUSE_DIR=os.path.join(WORK, "warehouse"),
        TMPDIR=tmp,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        SPARK_SUBMIT_OPTS=" ".join(
            p for p in (os.environ.get("SPARK_SUBMIT_OPTS"),
                        f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData") if p
        ),
    )
    return {"cpus": cpus, "host_mem_gb": round(mem_gb, 1), "driver_memory": f"{driver_gb}g"}


def git_commit() -> str:
    head = os.path.join(ROOT, ".git", "HEAD")
    if not os.path.exists(head):
        return "unknown (not a git checkout)"
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10, check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def start_spark():
    from alertsage_spark.session import get_spark

    return get_spark(app_name="perfbench",
                     extra_conf={"spark.ui.showConsoleProgress": "false"})


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM (its Python workers exit
    with it) and wait until it has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def check_imports(spark) -> dict:
    """The driver and a worker task must both import the engine from this
    checkout, or the run would measure some other copy of it."""
    import alertsage_spark

    want = os.path.join(ROOT, "alertsage_spark") + os.sep
    worker = spark.sparkContext.parallelize([0], 1).map(
        lambda _: __import__("alertsage_spark").__file__).collect()[0]
    for where, path in (("driver", alertsage_spark.__file__), ("worker", worker)):
        if not os.path.abspath(path).startswith(want):
            raise RuntimeError(f"{where} imports alertsage_spark from {path}, not {want}")
    return {"driver_module": alertsage_spark.__file__, "worker_module": worker}


# ------------------------------------------------------------------ metrics


def _median(xs, default=0.0) -> float:
    return float(statistics.median(xs)) if xs else default


def _mean(xs, default=0.0) -> float:
    return float(statistics.fmean(xs)) if xs else default


def tail(lat_ms: list[float]) -> tuple[float, float]:
    """(value, percentile): the highest percentile that still has ten
    samples above it (the maximum when there are fewer samples)."""
    lat = sorted(lat_ms)
    n = len(lat)
    if n < 11:
        return (lat[-1] if lat else 0.0), 100.0
    return lat[n - 11], 100.0 * (n - 10) / n


def e2e_queries(run) -> list:
    """Query ops the end-to-end figures use: in a traced run, only the
    executions without layer spans."""
    return [o for o in run.ops if o.kind == "query" and not (run.trace and o.traced)]


def end_to_end(run, session_s: float) -> tuple[dict, float]:
    lat = [o.ms for o in e2e_queries(run)]
    t_val, t_pct = tail(lat)
    built = run.report["build_docs"]
    return {
        "setup_s": (session_s + _median(run.setup_s), "s"),
        "query_p50_ms": (_median(lat), "ms"),
        "query_tail_ms": (t_val, "ms"),
        "query_qps": (len(lat) / (sum(lat) / 1000.0) if lat else 0.0, "1/s"),
        # the first build of a process pays JVM and worker warm-up (in setup_s)
        "build_docs_per_s": (built / _median(run.build_s[1:] or run.build_s), "docs/s"),
        "index_bytes_per_input_byte": (run.report["disk_bytes"] / run.input_bytes, "ratio"),
        "driver_py_peak_rss_mb": (run.report["driver_py_peak_rss_mb"], "MB"),
    }, t_pct


def spark_counts(spark, ops) -> dict[int, tuple[int, int, int, int]]:
    """op id -> (jobs, stages run, tasks, failed tasks), from the job
    group each op ran under."""
    st = spark.sparkContext.statusTracker()
    time.sleep(0.5)  # let the listener bus record the last job's end
    out = {}
    for o in ops:
        jobs = st.getJobIdsForGroup(f"pb-{o.id}")
        stages = tasks = failed = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in info.stageIds if info else ():
                si = st.getStageInfo(sid)
                if si and si.numCompletedTasks + si.numFailedTasks > 0:
                    stages += 1
                    tasks += si.numTasks
                    failed += si.numFailedTasks
        out[o.id] = (len(jobs), stages, tasks, failed)
    return out


def per_layer(run) -> tuple[dict, dict]:
    tr = run.tracer
    by_op = tr.by_op()
    traced_q = [o for o in run.ops if o.kind == "query" and o.traced]
    plain_q = [o for o in run.ops if o.kind == "query" and not o.traced]

    def layer(ops, name, i):  # i: 0 calls, 1 total ns, 2 self ns
        return [by_op.get(o.id, {}).get(name, (0, 0, 0))[i] for o in ops]

    def span_ms(kind, name):
        ops = [o for o in run.ops if o.kind == kind]
        return [v / 1e6 for v in layer(ops, name, 1) if v]

    counts = spark_counts(run.spark, run.ops)
    q_counts = [counts[o.id] for o in run.ops if o.kind == "query"]
    cache = run.cache_stats
    loop_ns = run.loop_ns[1] - run.loop_ns[0]
    r = run.report
    ms = lambda ns_list: _mean([v / 1e6 for v in ns_list])  # noqa: E731
    m = {
        "wand.call_ms": (_median([v / 1e6 for v in layer(traced_q, "wand.call", 1)]), "ms"),
        "wand.collect_ms": (_median([v / 1e6 for v in layer(traced_q, "wand.collect", 1)]), "ms"),
        "wand.fresh_probe_ms": (ms(layer(traced_q, "wand.fresh_probe", 1)), "ms"),
        "wand.kernel_ms": (ms(layer(traced_q, "wand.kernel", 2)), "ms"),
        "wand.kernel_calls": (_mean(layer(traced_q, "wand.kernel", 0)), "count"),
        "wand.decode_ms": (ms(layer(traced_q, "wand.decode", 2)), "ms"),
        "wand.decode_calls": (_mean(layer(traced_q, "wand.decode", 0)), "count"),
        "wand.term_cache_hit_ratio": (
            cache["hits"] / cache["lookups"] if cache["lookups"] else 0.0, "ratio"),
        "wand.term_cache_evictions": (cache["evictions"], "count"),
        "wand.term_cache_postings": (cache["max_postings"], "count"),
        "tokenizer.query_ms": (ms(layer(traced_q, "tokenizer.query", 1)), "ms"),
        "spark.jobs_per_op": (_mean([c[0] for c in q_counts]), "count"),
        "spark.stages_per_op": (_mean([c[1] for c in q_counts]), "count"),
        "spark.tasks_per_op": (_mean([c[2] for c in q_counts]), "count"),
        "spark.failed_tasks": (sum(c[3] for c in counts.values()), "count"),
        "segments.build_s": (_median(span_ms("build", "segments.build")) / 1000.0, "s"),
        "segments.load_ms": (_median(span_ms("reload", "segments.load")), "ms"),
        "segments.prepare_ms": (_median(span_ms("reload", "segments.prepare")), "ms"),
        "segments.groups": (_mean([o.groups for o in traced_q]), "count"),
        "segments.postings": (r["postings"], "count"),
        "segments.compressed_bytes": (r["compressed_bytes"], "bytes"),
        "segments.disk_bytes": (r["disk_bytes"], "bytes"),
        "ingest.batch_ms": (_median(span_ms("ingest", "ingest.batch")), "ms"),
        "ingest.build_ms": (_median(span_ms("ingest", "ingest.build")), "ms"),
        "ingest.stats_ms": (_median(span_ms("ingest", "ingest.stats")), "ms"),
        "ingest.visible_ms": (_median(r.get("visible_ms", [])), "ms"),
        "merge.compact_s": (_median(span_ms("compact", "merge.compact")) / 1000.0, "s"),
        "merge.groups_in": (_mean(r.get("merge_groups_in", [])), "count"),
        "merge.bytes_rewritten": (_mean(r.get("merge_bytes_rewritten", [])), "bytes"),
        "driver.df_map_terms": (r["df_map_terms"], "count"),
        "driver.dl_map_docs": (r["dl_map_docs"], "count"),
        "trace.overhead_pct": (
            100.0 * (_median([o.ms for o in traced_q]) / _median([o.ms for o in plain_q]) - 1.0)
            if plain_q else 0.0, "%"),
        "trace.span_coverage": (tr.top_level_ns(*run.loop_ns) / loop_ns if loop_ns else 0.0,
                                "ratio"),
    }
    self_table = {}
    for o in run.ops:
        for name, (calls, _tot, own) in by_op.get(o.id, {}).items():
            acc = self_table.setdefault((o.kind, name), [0, 0])
            acc[0] += calls
            acc[1] += own
    return m, self_table


# ------------------------------------------------------------------ driver


def run_workload(spark, workload: str, seed: int, seconds: float, trace: bool,
                 session_s: float, sizes: dict | None = None):
    """Run one workload; returns (result dict, report lines)."""
    from perfbench import workloads as wl

    work_dir = os.path.join(WORK, f"run-{os.getpid()}-{workload}")
    shutil.rmtree(work_dir, ignore_errors=True)
    run = wl.Run(spark, workload, seed, seconds, work_dir, trace, sizes)
    if trace:
        run.install_tracing()
    try:
        wl.RUNNERS[workload](run)
    finally:
        run.tracer.restore()
        spark.catalog.clearCache()
        shutil.rmtree(work_dir, ignore_errors=True)

    # a lifecycle freshness sample counts only if its answer was correct
    ops_by_id = {o.id: o for o in run.ops}
    run.report["visible_ms"] = [v for i, v in run.visible if ops_by_id[i].ok]
    attempted = len(run.ops)
    failed = sum(not o.ok for o in run.ops)
    e2e, tail_pct = end_to_end(run, session_s)
    lines = [f"workload {workload} seed={seed} seconds={seconds} trace={int(trace)}"]
    lines += [f"  {k} = {v:.6g} {u}" for k, (v, u) in e2e.items()]
    queries = [o for o in run.ops if o.kind == "query"]
    compacts = [o.ms / 1000.0 for o in run.ops if o.kind == "compact"]
    lines += [
        f"  query_tail_ms is p{tail_pct:.1f} of {len(e2e_queries(run))} queries",
        f"  failed_frac = {failed / attempted:.6g} ({failed} of {attempted} ops)",
        f"  ingest_visible_ms = {_median(run.report['visible_ms']):.6g} ms "
        f"(n={len(run.report['visible_ms'])})",
        f"  compact_s = {_median(compacts):.6g} s (n={len(compacts)})",
        f"  session_start_s = {session_s:.6g} s; setup reps s = "
        + ", ".join(f"{t:.3f}" for t in run.setup_s)
        + f"; untimed steady warm-up {run.report.get('steady_warm_up_s', 0.0):.3f} s "
        f"({run.cfg['steady_queries']} queries after the first rep)",
        f"  oracle: precompute+check {run.oracle_s:.3f} s, "
        f"{run.report['oracle_checked_keys']} distinct (snapshot, query) keys, "
        f"{run.report['oracle_covered_ops']} of {len(queries)} query ops covered",
        "  sizes: " + ", ".join(f"{k}={run.report[k]}" for k in (
            "docs", "input_bytes", "postings", "compressed_bytes", "term_rows", "vocabulary",
            "disk_bytes", "groups", "query_pool_terms", "query_pool_postings",
            "term_cache_budget_postings", "doclen_budget_docs")),
    ]
    for o in run.ops:
        if not o.ok:
            lines.append(f"  FAILED op {o.id} {o.kind}: {o.error}")
    metrics = e2e
    if trace:
        metrics, self_table = per_layer(run)
        lines += [f"  {k} = {v:.6g} {u}" for k, (v, u) in metrics.items()]
        lines.append("  self time by (op kind, layer): calls, total self ms")
        lines += [f"    {kind:8s} {name:22s} {c:6d} {ns / 1e6:10.2f}"
                  for (kind, name), (c, ns) in sorted(self_table.items())]
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        run.tracer.dump(os.path.join(WORK, "traces", f"{workload}-seed{seed}.json"))
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, lines


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["text_serve", "code_distributed", "code_lifecycle", "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "alertsage_spark")):
        print(f"perfbench: no engine sources (alertsage_spark/) under {ROOT}", file=sys.stderr)
        return 2
    env = configure_env()
    sys.path.insert(0, ROOT)
    import pyspark

    env.update(spark=pyspark.__version__, python=platform.python_version(),
               commit=git_commit(), seed=args.seed)
    t0 = time.perf_counter()
    spark = start_spark()
    session_s = time.perf_counter() - t0
    names = ["text_serve", "code_distributed", "code_lifecycle"] \
        if args.workload == "all" else [args.workload]
    results = []
    try:
        for name in names:
            results.append((name, *run_workload(spark, name, args.seed, args.seconds,
                                                bool(args.trace), session_s)))
        # checked once workers are up; a wrong checkout fails the run here
        env.update(check_imports(spark))
    finally:
        stop_spark(spark)
    print("# " + " ".join(f"{k}={v}" for k, v in env.items()))
    for _name, _res, lines in results:
        print("\n".join("# " + ln for ln in lines), flush=True)
    if len(results) == 1:
        out = results[0][1]
    else:
        out = {
            "correct": all(r["correct"] for _n, r, _l in results),
            "attempted": sum(r["attempted"] for _n, r, _l in results),
            "failed": sum(r["failed"] for _n, r, _l in results),
            "metrics": {f"{n}.{k}": v for n, r, _l in results for k, v in r["metrics"].items()},
        }
    print(json.dumps(out))
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
