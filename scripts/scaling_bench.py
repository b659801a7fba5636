#!/usr/bin/env python
"""Two-parallelism scaling evidence (the sandbox stand-in for N vs 4N
executors — driver instruction in BASELINE.md).

Runs the SAME two crawl jobs on the SAME inputs at local[8] and local[32],
one JVM per level (separate processes), and writes throughputs + scaling
efficiencies to BENCH/BASELINE.md:

- fetch_extract: the generation's Arrow/Python stage (synthetic fetch →
  title/link extraction → canonicalize → sha1). Python workers are
  separate OS processes, so this measures true multi-core scaling of the
  engine's dominant cost center (network+parse in production).
- dedup_admission: the JVM stage (sha1 identity → seen anti-join → salted
  politeness admission). In ONE local JVM this is memory-bandwidth- and
  GC-shared across all task threads — a known under-report of multi-node
  scaling (each real executor brings its own memory bus + heap).

efficiency = (throughput_32 / throughput_8) / 4   (target >= 0.8)

Usage: python scripts/scaling_bench.py [--frontier N] [--fetch N] [--repeat K]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
from web_scraper_spark.session import default_memory  # noqa: E402

WORKER_PY = os.path.join(REPO, "scripts", "scaling_worker.py")


def build_pyfiles_zip() -> str:
    """Bundle the engine for spark-submit --py-files (north-rule deploy shape).

    The zip root carries the `web_scraper_spark` package plus the top-level
    `bench` module, so `--py-files wss.zip` alone makes both importable on
    the driver and in every Python UDF worker — the exact artifact a real
    multi-executor cluster submit would ship.
    """
    import tempfile
    import zipfile

    zpath = os.path.join(tempfile.mkdtemp(prefix="wss-pyfiles-"), "wss_pyfiles.zip")
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as z:
        pkg = os.path.join(REPO, "web_scraper_spark")
        for dirpath, dirnames, filenames in os.walk(pkg):
            dirnames[:] = [d for d in dirnames if d != "__pycache__"]
            for fn in filenames:
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    z.write(full, os.path.relpath(full, REPO))
        z.write(os.path.join(REPO, "bench.py"), "bench.py")
    return zpath


def run_level(cores: int, frontier: int, fetch: int, repeat: int, pin: bool = False,
              submit_zip: str | None = None) -> dict:
    env = dict(
        os.environ,
        WSS_REPO=REPO,
        WSS_CORES=str(cores),
        WSS_REPEAT=str(repeat),
        WSS_BENCH_FRONTIER=str(frontier),
        WSS_BENCH_FETCH=str(fetch),
        SPARK_GRAFT_CPUS=str(cores),
        # explicit, not via bench.py's import-time side effect: scaling
        # numbers need the tmpfs scratch dir regardless of import order
        WSS_SHM_LOCAL_DIR="1",
    )
    if submit_zip:
        # north-rule deployment shape: the SAME worker runs via
        # `spark-submit --py-files wss.zip` with NO repo on sys.path — the
        # zip is the sole code source, exactly as a multi-executor cluster
        # submit would ship it. --driver-memory must ride the submit line
        # (the JVM pre-exists when the builder runs); every other conf in
        # session.get_spark applies at context creation and carries over.
        env["WSS_VIA_SUBMIT"] = "1"
        cmd = [
            "spark-submit",
            "--master", f"local[{cores}]",
            "--driver-memory", default_memory("SPARK_DRIVER_MEM", 48, 3 / 8),
            "--py-files", submit_zip,
            WORKER_PY,
        ]
    else:
        cmd = [sys.executable, WORKER_PY]
    if pin:
        # confine the WHOLE process tree (JVM task threads + forked Python
        # workers, which inherit affinity) to exactly `cores` physical
        # cores. Without this, local[2] with a pandas-UDF stage really uses
        # ~2x+ cores on an idle box (N JVM threads pipelining with N Python
        # worker processes), inflating the small-N baseline and
        # under-reporting the N-vs-4N ratio a real fixed-size executor
        # would achieve.
        # pin to the TOP cores: cpu0 (and its neighbors) absorb kernel
        # interrupt/housekeeping load, which lands entirely inside a
        # low-core pin and adds noise exactly where the ratio is most
        # sensitive (the small-N baseline)
        n_cpus = os.cpu_count() or 32
        cmd = ["taskset", "-c", f"{n_cpus - cores}-{n_cpus - 1}"] + cmd
    out = subprocess.run(cmd, env=env, capture_output=True, text=True, timeout=2400)
    for line in out.stdout.splitlines():
        if line.startswith("WSS_RESULT "):
            return json.loads(line[len("WSS_RESULT "):])
    raise RuntimeError(f"worker failed (cores={cores}):\n{out.stdout[-2000:]}\n{out.stderr[-2000:]}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--frontier", type=int, default=int(os.environ.get("WSS_BENCH_FRONTIER", "20000000")))
    ap.add_argument("--fetch", type=int, default=int(os.environ.get("WSS_BENCH_FETCH", "40000")))
    ap.add_argument("--repeat", type=int, default=2)
    ap.add_argument("--levels", default="2,8,32", help="comma-separated core counts; N vs 4N pairs are consecutive entries")
    ap.add_argument(
        "--pin", action="store_true",
        help="taskset each level's whole process tree to exactly N cores "
        "(truest single-box N-vs-4N proxy: small-N levels can't borrow "
        "idle cores for their Python workers)",
    )
    ap.add_argument(
        "--spark-submit", action="store_true", dest="spark_submit",
        help="run each level via `spark-submit --master local[N] --py-files "
        "wss.zip` instead of a plain python subprocess — evidences the "
        "north rule's deployment shape (the zip is the only code source)",
    )
    ap.add_argument(
        "--passes", type=int, default=1,
        help="interleave the level list this many times and keep each "
        "level's best pass: sequential per-level runs let a few minutes of "
        "co-tenant/host interference land entirely on ONE level and skew "
        "the N-vs-4N ratio; rotation spreads ambient noise across levels",
    )
    args = ap.parse_args()

    levels = [int(x) for x in args.levels.split(",")]
    submit_zip = build_pyfiles_zip() if args.spark_submit else None
    results: dict[int, dict] = {}
    for p in range(args.passes):
        pass_res: dict[int, dict] = {}
        for c in levels:
            r = run_level(c, args.frontier, args.fetch, args.repeat, pin=args.pin,
                          submit_zip=submit_zip)
            pass_res[c] = r
            if c not in results:
                results[c] = r
            else:
                for job in ("fetch_extract", "dedup_admission"):
                    if r[job]["sec"] < results[c][job]["sec"]:
                        results[c][job] = r[job]
        print(f"pass {p + 1}/{args.passes}: " + json.dumps(
            {c: {j: round(results[c][j]["sec"], 2) for j in ("fetch_extract", "dedup_admission")} for c in levels}
        ), flush=True)
        # per-pass paired efficiencies: a ratio is only meaningful between
        # levels measured under the SAME ambient conditions — best-of-level
        # across passes (the table below) can pair a lucky small-N with an
        # unlucky 4N; these lines keep the within-pass pairing visible
        pe = {}
        for job in ("fetch_extract", "dedup_admission"):
            for a in levels:
                b = a * 4
                if b in levels:
                    pe[f"{job}:{a}->{b}"] = round(
                        (pass_res[a][job]["sec"] / pass_res[b][job]["sec"]) / 4, 3
                    )
        print(f"pass {p + 1} paired eff: " + json.dumps(pe), flush=True)

    jobs = {
        "fetch_extract": args.fetch,
        "dedup_admission": args.frontier,
    }
    lines = []
    effs = {}
    for job, n in jobs.items():
        cells = []
        for c in levels:
            tp = n / results[c][job]["sec"]
            cells.append(f"{results[c][job]['sec']:.2f} s / {tp:,.0f} URL/s")
        row_effs = []
        # every N vs 4N pair present in the level list (the north rule's
        # two-cluster-size criterion), not just consecutive entries
        pairs = [(a, a * 4) for a in levels if a * 4 in levels]
        for a, b in pairs:
            tpa = n / results[a][job]["sec"]
            tpb = n / results[b][job]["sec"]
            eff = (tpb / tpa) / (b / a)
            effs[f"{job}:{a}->{b}"] = round(eff, 3)
            row_effs.append(f"{a}→{b}: **{eff:.3f}**")
        lines.append(f"| {job} | {n:,} | " + " | ".join(cells) + " | " + "; ".join(row_effs) + " |")

    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    md = f"""# BENCH/SCALING_LAST.md — latest raw scaling run

Machine-written by scripts/scaling_bench.py (one file per run, OVERWRITTEN
each time). The curated, multi-session narrative lives in
BENCH/BASELINE.md — merge numbers there by hand; this file is the raw
evidence for the most recent run only.

Run: levels={",".join(str(c) for c in levels)} passes={args.passes} repeat={args.repeat} fetch={args.fetch:,} frontier={args.frontier:,} pin={args.pin} spark_submit={args.spark_submit}

Same job, same input, multiple parallelism levels (separate JVMs; best of
{args.repeat} timed runs after one warmup). Sandbox stand-in for N vs 4N
executors per the driver instruction: consecutive level pairs are 4x apart
(2→8 and 8→32 cores). On one shared-DRAM machine the 8→32 pair saturates
the memory bus (all task threads share ONE memory controller + GC), so the
2→8 pair is the cleaner proxy for adding executors, and both are reported.

| job | input URLs | {" | ".join(f"local[{c}]" for c in levels)} | scaling efficiency (tp_4N/tp_N)/4 |
|---|---|{"---|" * len(levels)}---|
{chr(10).join(lines)}

Target: >= 0.8 (BASELINE.json north rule).

**fetch_extract** — the generation's Arrow/Python stage (synthetic fetch →
title/link extraction via pandas UDFs → canonicalize → sha1). Python
workers are separate OS processes with private heaps; this is the engine's
dominant cost center in production (network + parse) and the best local
proxy for multi-executor scaling.

**dedup_admission** — the JVM stage (sha1 identity → seen-set sort-merge
anti-join over {args.frontier:,}+{os.environ.get("WSS_BENCH_SEEN", "10000000")}
rows → salted two-stage top-K politeness admission). All 32 task threads
share ONE memory bus and ONE GC in local mode, so this row under-reports
cluster scaling by construction: on a real 4N-executor cluster each
executor brings its own DRAM bandwidth and heap. The plan itself is fully
key-parallel — both shuffles hash-partition on high-cardinality keys
(url_sha1, (host, salt)), no driver-side loop, no broadcast of large data —
which is the property that transfers to multi-node.

Primary-metric snapshot (BASELINE.json: URLs fetched+deduped/sec): see the
`urls_per_sec` field of BENCH_r*.json (driver-run `bench.py` at sf0.1).
"""
    with open(os.path.join(REPO, "BENCH", "SCALING_LAST.md"), "w") as f:
        f.write(md)
    print(json.dumps({"eff": effs}))


if __name__ == "__main__":
    main()
