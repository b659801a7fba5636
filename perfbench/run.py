#!/usr/bin/env python3
"""Benchmark of the crawl engine: one workload, one seed, one result line.

    python3 perfbench/run.py --workload crawl_polite --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0``
the metrics are the end-to-end metrics of BENCHMARK.json, with
``--trace 1`` the per-layer metrics. The line before it is a JSON record
of the box (cores, RAM, load, steal) and of the run's sample counts.

Spark's own log (codegen fallbacks dump megabytes of plan text per crawl
generation) goes to ``.perfbench_runs/<run>.log``, not to the terminal;
everything the benchmark writes stays under ``.perfbench_runs/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = os.path.join(ROOT, ".perfbench_runs")
WORKLOADS = ("crawl_polite", "frontier_serve")


def _meminfo_kb(key: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def box_record() -> dict:
    """nproc, RAM, load average and CPU steal over a short window."""
    a = _cpu_times()
    time.sleep(0.5)
    b = _cpu_times()
    d = [y - x for x, y in zip(a, b)]
    steal = d[7] / max(1, sum(d)) if len(d) > 7 else 0.0
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": round(_meminfo_kb("MemTotal") / 2**20, 2),
        "ram_avail_gb": round(_meminfo_kb("MemAvailable") / 2**20, 2),
        "load": load,
        "steal_frac": round(steal, 4),
    }


def size_session(box: dict, run_dir: str) -> None:
    """Size Spark for the machine it runs on (the engine's defaults assume
    32 cores and a 48 GB heap) and make the package importable by Python
    workers from any working directory. Must run before the JVM starts."""
    ram = box["ram_gb"]
    os.environ["SPARK_GRAFT_CPUS"] = str(box["nproc"])
    os.environ["SPARK_DRIVER_MEM"] = f"{max(1, min(4, int(ram // 4)))}g"
    os.environ["SPARK_OFFHEAP"] = f"{max(256, min(1024, int(ram * 1024 // 16)))}m"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ.pop("WSS_SHM_LOCAL_DIR", None)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--size", choices=("full", "tiny"), default="full",
        help="tiny: smallest inputs, for the benchmark's own self-test",
    )
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "web_scraper_spark", "crawl.py")):
        print("perfbench: engine package web_scraper_spark not found next to "
              "perfbench/; run from a full checkout", file=sys.stderr)
        return 2

    name = f"{args.workload}-s{args.seed}-t{args.trace}-{args.size}"
    # keep only this run's files: earlier runs' logs and catalogs go
    shutil.rmtree(RUNS, ignore_errors=True)
    run_dir = os.path.join(RUNS, name)
    os.makedirs(run_dir)
    log_path = os.path.join(RUNS, name + ".log")

    box = box_record()
    size_session(box, run_dir)

    # Spark logs to the inherited stderr: point fd 2 at the run log and keep
    # the original stderr for the benchmark's own messages
    err = os.fdopen(os.dup(2), "w", buffering=1)
    log_fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(log_fd, 2)
    os.close(log_fd)

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import proctree

    sampler = proctree.start_sampler()
    try:
        import harness

        result = harness.run(
            args.workload, args.seed, args.seconds, bool(args.trace),
            size=args.size, run_dir=run_dir, log_path=log_path, box=box,
        )
    except Exception as e:  # noqa: BLE001 - any failure means no result line
        import traceback

        traceback.print_exc(file=err)
        print(f"perfbench: run failed: {e!r} (Spark log: {log_path})", file=err)
        sampler.stop()
        return 1
    peak_mb = sampler.stop()
    shutil.rmtree(run_dir, ignore_errors=True)
    result.set_peak_rss(peak_mb)
    info, line = result.render(bool(args.trace))
    print(json.dumps(info, sort_keys=True))
    print(json.dumps(line, sort_keys=True))
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
