"""Session lifecycle, timing and metric assembly for one benchmark run."""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field

import tracer as tracing
import workloads

E2E_UNITS = {
    "setup_s": "s",
    "items_per_cpu_s": "1/s",
    "op_cpu_s_p50": "s",
    "peak_rss_mb": "MB",
}
# wall-time twins of the CPU metrics: printed by the traced run and in
# every run's info line, with no bound (see proctree.py for why)
WALL_UNITS = {"wall.items_per_s": "1/s", "wall.op_s_p50": "s"}

# per-layer metric name -> unit; every traced run prints all of them
# (0 for a layer the workload does not touch)
LAYER_UNITS = {
    "seen.filter_unseen_s": "s", "seen.rows_in": "count", "seen.rows_out": "count",
    "seen.bloom_pass_frac": "ratio", "seen.update_sketches_s": "s", "seen.membership_s": "s",
    "seen.self_s": "s",
    "scheduler.admit_batch_s": "s", "scheduler.admit_frac": "ratio",
    "scheduler.global_rank_s": "s", "scheduler.fold_host_state_s": "s", "scheduler.self_s": "s",
    "robots.decide_s": "s", "robots.hosts_fetched": "count", "robots.cache_hit_frac": "ratio",
    "robots.disallowed_frac": "ratio", "robots.self_s": "s",
    "fetch.pages_s": "s", "fetch.rows": "count", "fetch.bytes": "B",
    "fetch.transport_fail_frac": "ratio", "fetch.self_s": "s",
    "textops.analyze_s": "s", "textops.docs": "count", "textops.links_out": "count",
    "urlops.canonicalize_s": "s", "urlops.new_frontier_frac": "ratio",
    "catalog.stage_s": "s", "catalog.commit_s": "s", "catalog.open_s": "s",
    "catalog.expire_s": "s", "catalog.files_written": "count",
    "catalog.bytes_written": "B", "catalog.files_read": "count", "catalog.self_s": "s",
    "catalog.bytes_per_page": "B/page",
    "api.analyze_url_s": "s", "api.analyze_url_hit_frac": "ratio",
    "api.trending_topics_s": "s", "api.self_s": "s",
    "pairs.clean_s": "s", "pairs.keep_ids_s": "s", "imageops.quality_s": "s",
    "dedupops.udf_s": "s", "pairs.kept_frac": "ratio", "pairs.self_s": "s",
    "crawl.self_s": "s",
    "spark.jobs_per_gen": "count", "spark.stages_per_gen": "count",
    "spark.tasks_per_gen": "count", "spark.shuffle_bytes": "B", "spark.spill_bytes": "B",
    "spark.gc_s": "s", "spark.task_skew": "ratio", "spark.codegen_fallbacks": "count",
    "spark.single_partition_windows": "count",
    "trace.count_s": "s",
    **{f"{layer}.task_s": "s" for layer in workloads.LAYERS},
    **{f"catalog.files_per_commit.{t}": "count" for t in workloads.TABLES},
    **{f"catalog.bytes_per_commit.{t}": "B" for t in workloads.TABLES},
    **{f"e2e.{k}": u for k, u in E2E_UNITS.items()},
    **WALL_UNITS,
}


@dataclass
class Outcome:
    """What a workload measured. Times in seconds; op_s and timed_s are
    wall time, op_cpu_s and timed_cpu_s CPU time of the process tree."""

    setup_s: list[float] = field(default_factory=list)
    op_s: list[float] = field(default_factory=list)
    op_cpu_s: list[float] = field(default_factory=list)
    items: float = 0.0
    timed_s: float = 0.0
    timed_cpu_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    layer: dict[str, float] = field(default_factory=dict)
    info: dict = field(default_factory=dict)


class Result:
    def __init__(self, workload: str, box: dict, session_s: float, out: Outcome) -> None:
        self.workload = workload
        self.box = box
        self.session_s = session_s
        self.out = out
        self.peak_rss_mb = 0.0

    def set_peak_rss(self, mb: float) -> None:
        self.peak_rss_mb = mb

    def e2e(self) -> dict[str, float]:
        o = self.out
        return {
            "setup_s": self.session_s + statistics.median(o.setup_s),
            "items_per_cpu_s": o.items / o.timed_cpu_s,
            "op_cpu_s_p50": statistics.median(o.op_cpu_s),
            "peak_rss_mb": self.peak_rss_mb,
        }

    def wall(self) -> dict[str, float]:
        o = self.out
        return {"wall.items_per_s": o.items / o.timed_s,
                "wall.op_s_p50": statistics.median(o.op_s)}

    def render(self, traced: bool) -> tuple[dict, dict]:
        o = self.out
        e2e = self.e2e()
        if traced:
            vals = {k: 0.0 for k in LAYER_UNITS}
            vals.update(o.layer)
            vals.update({f"e2e.{k}": v for k, v in e2e.items()})
            vals.update(self.wall())
            metrics = {k: {"value": float(vals[k]), "unit": u} for k, u in LAYER_UNITS.items()}
        else:
            metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in E2E_UNITS.items()}
        info = {
            "workload": self.workload,
            "box": self.box,
            "session_start_s": round(self.session_s, 4),
            "setup_samples_s": [round(x, 4) for x in o.setup_s],
            "op_samples": len(o.op_s),
            "op_s": [round(x, 3) for x in o.op_s],
            "op_cpu_s": [round(x, 3) for x in o.op_cpu_s],
            "timed_s": round(o.timed_s, 4),
            "timed_cpu_s": round(o.timed_cpu_s, 4),
            **{k: round(v, 4) for k, v in self.wall().items()},
            "failed_frac": o.failed / max(1, o.attempted),
            "problems": o.problems[:10],
            **o.info,
        }
        line = {
            "correct": o.failed == 0,
            "attempted": o.attempted,
            "failed": o.failed,
            "metrics": metrics,
        }
        return info, line


def start_session(run_dir: str, traced: bool):
    from web_scraper_spark.session import get_spark

    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    tmp = os.environ["TMPDIR"]
    conf = {
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        conf.update({
            "spark.sql.pyspark.udf.profiler": "perf",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    return get_spark("perfbench", cores=cores, extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it every Python worker)."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def run(workload: str, seed: int, seconds: float, traced: bool, *, size: str,
        run_dir: str, log_path: str, box: dict) -> Result:
    t = time.perf_counter()
    spark = start_session(run_dir, traced)
    session_s = time.perf_counter() - t
    try:
        tracer = tracing.Tracer(spark) if traced else tracing.NullTracer()
        fn = workloads.WORKLOADS[workload]
        out = fn(spark, seed, seconds, size=size, run_dir=run_dir, tracer=tracer,
                 log_path=log_path)
        if traced:
            tracer.uninstall()
    finally:
        stop_session(spark)
    return Result(workload, box, session_s, out)
