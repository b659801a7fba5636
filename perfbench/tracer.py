"""Traced run: spans around the engine's public functions, Spark job tags,
stage metrics from Spark's status store and Python UDF time from Spark's
UDF profiler.

Every wrapper records a span (name, layer, start, end, parent). A wrapped
function that returns a DataFrame is forced inside its span (persisted,
then written to the ``noop`` sink), so lazy work is charged to the layer
that planned it; the persisted frames are released after each benchmark
operation. Spark jobs started inside a span carry the span id as their job
group, which is how stage metrics are attributed afterwards. Counters a
layer needs (rows in/out, bloom passes, ...) are computed in a ``trace``
child span whose jobs are excluded from the Spark totals and whose time
is excluded from every layer's self time.

Stage metrics are read from Spark's in-process status store rather than
the event log: on this engine the event log carries each query's full
plan text with every adaptive re-plan, several hundred MB per crawl
generation, which would dominate the traced run.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass, field

# the UDF profiler reports a function's file by base name
UDF_LAYERS = {
    f"{m}.py": m
    for m in ("textops", "imageops", "dedupops", "urlops", "fetch", "seen", "scheduler", "robots")
}


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    parent: int | None
    start: float
    end: float = 0.0
    args: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class NullTracer:
    """Untraced run: spans cost nothing and record nothing."""

    enabled = False

    def span(self, name: str, layer: str, **args):
        return contextlib.nullcontext()

    def release(self) -> None:
        pass


class Tracer:
    enabled = True

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.forced: list = []
        self.counters: dict[str, float] = defaultdict(float)
        self.table_writes: dict[str, list[int]] = defaultdict(lambda: [0, 0])
        self.push_gate: list[tuple[int, int]] = []  # (rows in, rows out)
        self._patches: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans
    def _tag(self, sid: int | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None if sid is None else f"pb{sid}")

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **args):
        sp = Span(len(self.spans), name, layer,
                  self.stack[-1].sid if self.stack else None, time.perf_counter(), args=args)
        self.spans.append(sp)
        self.stack.append(sp)
        self._tag(sp.sid)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self.stack.pop()
            self._tag(self.stack[-1].sid if self.stack else None)

    def note(self, key: str, value: float) -> None:
        self.counters[key] += value

    def release(self) -> None:
        for df in self.forced:
            df.unpersist()
        self.forced.clear()

    def _force(self, df):
        from pyspark.sql import DataFrame

        if isinstance(df, DataFrame):
            df.persist()
            df.write.format("noop").mode("overwrite").save()
            self.forced.append(df)
        return df

    # ---------------------------------------------------------- wrapping
    def wrap(self, owner, attr: str, layer: str, force: bool = True, hook=None):
        fn = getattr(owner, attr)
        tracer = self

        def traced(*a, **kw):
            table = a[1] if len(a) > 1 and isinstance(a[1], str) else None
            with tracer.span(attr, layer, table=table) as sp:
                res = fn(*a, **kw)
                if force:
                    tracer._force(res)
                if hook is not None:
                    with tracer.span(attr + ".count", "trace"):
                        hook(sp, a, kw, res)
            return res

        traced.__wrapped__ = fn
        setattr(owner, attr, traced)
        self._patches.append((owner, attr, fn))

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._patches):
            setattr(owner, attr, fn)
        self._patches.clear()

    def install(self) -> None:
        from pyspark.sql import functions as F

        from web_scraper_spark import api, catalog, crawl
        from web_scraper_spark.operators import pairs, robots, scheduler, seen
        from web_scraper_spark.sources import fetch

        note = self.note

        # crawl
        self.wrap(crawl, "init_crawl", "crawl", force=False)
        self.wrap(crawl, "run_generation", "crawl", force=False)

        # catalog
        Cat = catalog.Catalog

        def on_read(sp, a, kw, res):
            snap = a[2] if len(a) > 2 else kw.get("snapshot")
            snap = snap or a[0].current_snapshot()
            if snap is not None and a[1] in snap.tables:
                note("catalog.files_read", len(snap.tables[a[1]]["files"]))

        def on_commit(sp, a, kw, snap):
            parent = None
            if snap.parent_id is not None:
                with contextlib.suppress(OSError):
                    parent = a[0].snapshot(snap.parent_id)
            for t, e in snap.tables.items():
                old = {f["path"] for f in parent.tables.get(t, {}).get("files", [])} if parent else set()
                new = [f for f in e["files"] if f["path"] not in old]
                self.table_writes[t][0] += len(new)
                self.table_writes[t][1] += sum(f["bytes"] for f in new)
            note("catalog.commits", 1)

        self.wrap(Cat, "__init__", "catalog", force=False)
        self.wrap(Cat, "read", "catalog", force=False, hook=on_read)
        for m in ("stage", "stage_append", "stage_cow", "stage_append_cow", "compact",
                  "expire_snapshots"):
            self.wrap(Cat, m, "catalog", force=False)
        self.wrap(Cat, "commit", "catalog", force=False, hook=on_commit)

        # seen
        tag_maybe_seen = seen.tag_maybe_seen

        def on_filter(sp, a, kw, res):
            n_in, n_out = a[0].count(), res.count()
            note("seen.rows_in", n_in)
            note("seen.rows_out", n_out)
            sketch = a[2] if len(a) > 2 else kw.get("sketch_df")
            if sketch is not None:
                maybe = tag_maybe_seen(a[0], sketch).filter(F.col("maybe_seen")).count()
                note("seen.bloom_maybe", maybe)
                note("seen.bloom_hits", n_in - n_out)
            parent = self.spans[sp.parent] if sp.parent is not None else None
            if parent is not None and parent.name == "run_generation":
                calls = [s for s in self.spans if s.parent == parent.sid and s.name == "filter_unseen"]
                if len(calls) == 2:  # the push-time gate over new links
                    self.push_gate.append((n_in, n_out))

        self.wrap(seen, "filter_unseen", "seen", hook=on_filter)
        self.wrap(seen, "update_sketches_autoscale", "seen")
        self.wrap(seen, "membership", "seen")

        # scheduler
        def on_admit(sp, a, kw, res):
            note("scheduler.eligible", a[0].count())
            note("scheduler.admitted", res.count())

        self.wrap(scheduler, "admit_batch", "scheduler", hook=on_admit)
        self.wrap(scheduler, "with_global_rank", "scheduler")
        self.wrap(scheduler, "fold_host_state", "scheduler")

        # robots
        def on_need(sp, a, kw, res):
            note("robots.batch_hosts", a[0].select("host").distinct().count())
            note("robots.hosts_fetched", res.count())

        def on_decide(sp, a, kw, res):
            note("robots.decided", res.count())
            note("robots.disallowed", res.filter(~F.col("allowed")).count())

        self.wrap(robots, "hosts_needing_robots", "robots", hook=on_need)
        self.wrap(robots, "rules_from_corpus", "robots")
        self.wrap(robots, "decide_allowed", "robots", hook=on_decide)

        # fetch
        def on_fetch(sp, a, kw, res):
            r = res.agg(
                F.count(F.lit(1)),
                F.coalesce(F.sum(F.length("content")), F.lit(0)),
                F.sum(F.when(F.col("content").isNull(), 1).otherwise(0)),
            ).collect()[0]
            note("fetch.rows", r[0])
            note("fetch.bytes", r[1])
            note("fetch.transport_fails", r[2] or 0)

        self.wrap(fetch, "fetch_pages", "fetch", hook=on_fetch)
        self.wrap(fetch, "fetch_robots", "fetch")

        # api
        def on_analyze(sp, a, kw, res):
            note("api.analyze_calls", 1)
            note("api.analyze_hits", int(bool(res.head()["cached"])))

        self.wrap(api, "analyze_url", "api", hook=on_analyze)
        self.wrap(api, "trending_topics", "api")

        # pairs / imageops / dedupops
        def on_clean(sp, a, kw, res):
            note("pairs.rows_in", a[0].count())
            note("pairs.kept", res.count())

        self.wrap(pairs, "pair_corpus_clean", "pairs", hook=on_clean)
        self.wrap(pairs, "pair_keep_ids", "pairs")

    # ---------------------------------------------------------- harvest
    def self_times(self, key) -> dict[str, float]:
        """Sum of span time minus child-span time, grouped by key(span)."""
        child: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.dur
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[key(s)] += s.dur - child[s.sid]
        return out

    def stage_metrics(self, first_job: int) -> dict:
        """Spark counters over jobs >= first_job, excluding the tracer's own
        counting jobs: per-stage task time, GC, shuffle, spill and skew."""
        jvm = self.sc._jvm
        conv = jvm.scala.jdk.javaapi.CollectionConverters
        store = self.sc._jsc.sc().statusStore()
        span_layer = {f"pb{s.sid}": s.layer for s in self.spans}
        jobs, stage_layer = 0, {}
        for j in conv.asJava(store.jobsList(None)):
            if j.jobId() < first_job:
                continue
            g = j.jobGroup()
            layer = span_layer.get(g.get() if g.isDefined() else None, "untraced")
            if layer == "trace":
                continue
            jobs += 1
            for sid in conv.asJava(j.stageIds()):
                stage_layer[int(sid)] = layer
        empty = self.sc._gateway.new_array(jvm.double, 0)
        m = defaultdict(float)
        layer_task_s: dict[str, float] = defaultdict(float)
        skews = []
        for s in conv.asJava(store.stageList(None, False, False, empty, None)):
            sid = s.stageId()
            if sid not in stage_layer or s.numCompleteTasks() == 0:
                continue
            m["stages"] += 1
            m["tasks"] += s.numCompleteTasks()
            m["shuffle_bytes"] += s.shuffleWriteBytes()
            m["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            m["gc_s"] += s.jvmGcTime() / 1000.0
            layer_task_s[stage_layer[sid]] += s.executorRunTime() / 1000.0
            runs = [
                t.taskMetrics().get().executorRunTime()
                for t in conv.asJava(store.taskList(sid, s.attemptId(), 100000))
                if t.taskMetrics().isDefined()
            ]
            # millisecond tasks give meaningless ratios
            if len(runs) > 1 and statistics.median(runs) >= 5:
                skews.append(max(runs) / statistics.median(runs))
        m["jobs"] = jobs
        m["task_skew"] = max(skews) if skews else 1.0
        return {"totals": dict(m), "layer_task_s": dict(layer_task_s)}

    def udf_seconds(self) -> dict[str, float]:
        """Python UDF time per layer from Spark's UDF profiler: each UDF's
        cumulative time is charged to the package module of its function."""
        out: dict[str, float] = defaultdict(float)
        results = getattr(self.spark._profiler_collector, "_perf_profile_results", {})
        for stats in results.values():
            if stats is None:
                continue
            best = None
            for (path, _line, _fn), st in stats.stats.items():
                layer = UDF_LAYERS.get(os.path.basename(path))
                if layer is not None and (best is None or st[3] > best[1]):
                    best = (layer, st[3])
            if best is not None:
                out[best[0]] += best[1]
        return dict(out)

    def clear_profiles(self) -> None:
        with contextlib.suppress(Exception):
            self.spark.profile.clear()
