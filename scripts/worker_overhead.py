#!/usr/bin/env python
"""Probe the fixed per-task cost of a PySpark Python worker.

Runs no-op ``mapInArrow`` jobs and reports, for 1 and for ``nproc``
partitions:

  * job_ms        — median wall time of one job, seen from the driver
  * cpu_ms_task   — median worker CPU spent per task (process CPU between
                    the starts of consecutive tasks in one reused worker)
  * zip_reads     — median zip central-directory reads per task

each for two no-op functions: ``plain`` (imports nothing) and ``engine``
(imports ``alertsage_spark``, which installs the zip-directory shim of
``alertsage_spark/_zipcache.py``). Each mode gets its own session, so its
Python workers start fresh. Prints a table, then one JSON line.

Usage: python scripts/worker_overhead.py [--jobs 10] [--warmup 3]
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def make_probe(import_engine: bool):
    """A no-op Arrow UDF that reports (pid, cpu, t, reads) once per task.

    ``reads`` is the worker's running count of ``zipimport._read_directory``
    calls, counted by a wrapper installed on the worker's first task."""

    def probe(batches):
        import os
        import time
        import zipimport

        import pyarrow as pa

        if import_engine:
            import alertsage_spark  # noqa: F401

        rd = zipimport._read_directory
        if not hasattr(rd, "calls"):
            def counted(archive, _rd=rd):
                counted.calls += 1
                return _rd(archive)

            counted.calls = 0
            zipimport._read_directory = rd = counted
        cpu, t = time.process_time(), time.monotonic()
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"pid": [os.getpid()], "cpu": [cpu], "t": [t], "reads": [rd.calls]}
        )

    return probe


PROBE_SCHEMA = "pid long, cpu double, t double, reads long"


def per_task_deltas(rows) -> tuple[list[float], list[int]]:
    """CPU ms and zip reads between consecutive tasks of each worker pid
    (a worker's first task carries its start-up and is skipped)."""
    by_pid: dict[int, list] = {}
    for r in rows:
        by_pid.setdefault(r["pid"], []).append(r)
    cpu, reads = [], []
    for rs in by_pid.values():
        rs.sort(key=lambda r: r["t"])
        for a, b in zip(rs, rs[1:]):
            cpu.append((b["cpu"] - a["cpu"]) * 1000.0)
            reads.append(b["reads"] - a["reads"])
    return cpu, reads


def measure(spark, import_engine: bool, partitions: int, warmup: int, jobs: int) -> dict:
    df = spark.range(partitions, numPartitions=partitions).mapInArrow(
        make_probe(import_engine), PROBE_SCHEMA
    )
    rows = []
    for _ in range(warmup):
        rows += df.collect()
    walls = []
    for _ in range(jobs):
        t0 = time.perf_counter()
        rows += df.collect()
        walls.append((time.perf_counter() - t0) * 1000.0)
    cpu, reads = per_task_deltas(rows)
    return {
        "job_ms": round(statistics.median(walls), 1),
        "cpu_ms_task": round(statistics.median(cpu), 1) if cpu else None,
        "zip_reads": statistics.median(reads) if reads else None,
        "tasks": len(rows),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--jobs", type=int, default=10, help="timed jobs per point")
    ap.add_argument("--warmup", type=int, default=3, help="untimed jobs first")
    args = ap.parse_args(argv)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import pyspark

    from alertsage_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    out = {"cpus": cpus, "python": platform.python_version(),
           "spark": pyspark.__version__, "points": {}}
    for mode in ("plain", "engine"):
        spark = get_spark(app_name="worker_overhead", master=f"local[{cpus}]",
                          extra_conf={"spark.ui.showConsoleProgress": "false"})
        try:
            for p in sorted({1, cpus}):
                out["points"][f"{mode}_p{p}"] = measure(
                    spark, mode == "engine", p, args.warmup, args.jobs
                )
        finally:
            spark.stop()
    print(f"{'point':<14}{'job_ms':>9}{'cpu_ms_task':>13}{'zip_reads':>11}{'tasks':>7}")
    for name, m in out["points"].items():
        print(f"{name:<14}{m['job_ms']:>9}{str(m['cpu_ms_task']):>13}"
              f"{str(m['zip_reads']):>11}{m['tasks']:>7}")
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
