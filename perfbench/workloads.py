"""The benchmark's workloads. Each one builds its inputs from the run seed
alone, sets up (several times, for a median), runs its operations in a
closed loop with one client for the requested seconds, then checks every
answer against a reference (gates.py) outside the timed section."""

from __future__ import annotations

import hashlib
import os
import random
import time

import gates
import proctree

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TABLES = (
    "frontier", "seen", "seen_sketch", "robots", "host_state", "pages", "links",
    "page_images", "fetch_failures", "dedup_index",
)
SETUP_REPS = 2  # the first set-up in a session is cold; the median is their mean
LAYERS = ("crawl", "catalog", "seen", "scheduler", "robots", "fetch", "api", "pairs")
pc = time.perf_counter


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(path) for f in fs
    )


def _job_count(spark) -> int:
    conv = spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters
    ids = [j.jobId() for j in conv.asJava(spark.sparkContext._jsc.sc().statusStore().jobsList(None))]
    return max(ids) + 1 if ids else 0


class Timed:
    """Bracket of the timed section: tracer, profiler, job ids, log offset."""

    def __init__(self, spark, tracer, log_path: str) -> None:
        self.spark, self.tracer, self.log_path = spark, tracer, log_path

    def __enter__(self):
        if self.tracer.enabled:
            self.tracer.install()
            self.tracer.clear_profiles()
            self.first_job = _job_count(self.spark)
        self.log_start = os.path.getsize(self.log_path)
        self.cpu0 = proctree.cpu_s()
        self.t0 = pc()
        return self

    def __exit__(self, *exc):
        self.seconds = pc() - self.t0
        self.cpu_seconds = proctree.cpu_s() - self.cpu0
        self.log_end = os.path.getsize(self.log_path)
        if self.tracer.enabled:
            self.tracer.uninstall()
        return False

    def layers(self, n_ops: int) -> dict[str, float]:
        """Per-layer numbers shared by every workload; times and Spark
        counters are per operation (generation, query or curation call)."""
        tr = self.tracer
        n = max(1, n_ops)
        by_name = tr.self_times(lambda s: s.name)
        layer_self = tr.self_times(lambda s: s.layer)
        udf = tr.udf_seconds()
        sm = tr.stage_metrics(self.first_job)
        tot = sm["totals"]
        c = tr.counters
        with open(self.log_path, "rb") as f:
            f.seek(self.log_start)
            log = f.read(self.log_end - self.log_start)
        commits = max(1.0, c["catalog.commits"])
        out = {
            "seen.filter_unseen_s": by_name["filter_unseen"] / n,
            "seen.rows_in": c["seen.rows_in"],
            "seen.rows_out": c["seen.rows_out"],
            "seen.bloom_pass_frac": c["seen.bloom_hits"] / c["seen.bloom_maybe"] if c["seen.bloom_maybe"] else 0.0,
            "seen.update_sketches_s": by_name["update_sketches_autoscale"] / n,
            "seen.membership_s": by_name["membership"] / n,
            "scheduler.admit_batch_s": by_name["admit_batch"] / n,
            "scheduler.admit_frac": c["scheduler.admitted"] / c["scheduler.eligible"] if c["scheduler.eligible"] else 0.0,
            "scheduler.global_rank_s": by_name["with_global_rank"] / n,
            "scheduler.fold_host_state_s": by_name["fold_host_state"] / n,
            "robots.decide_s": by_name["decide_allowed"] / n,
            "robots.hosts_fetched": c["robots.hosts_fetched"],
            "robots.cache_hit_frac": 1 - c["robots.hosts_fetched"] / c["robots.batch_hosts"] if c["robots.batch_hosts"] else 0.0,
            "robots.disallowed_frac": c["robots.disallowed"] / c["robots.decided"] if c["robots.decided"] else 0.0,
            "fetch.pages_s": by_name["fetch_pages"] / n,
            "fetch.rows": c["fetch.rows"],
            "fetch.bytes": c["fetch.bytes"],
            "fetch.transport_fail_frac": c["fetch.transport_fails"] / c["fetch.rows"] if c["fetch.rows"] else 0.0,
            "textops.analyze_s": udf.get("textops", 0.0) / n,
            "catalog.stage_s": sum(by_name[k] for k in ("stage", "stage_append", "stage_cow", "stage_append_cow")) / n,
            "catalog.commit_s": by_name["commit"] / n,
            "catalog.open_s": by_name["__init__"],
            "catalog.expire_s": by_name["expire_snapshots"] / n,
            "catalog.files_written": sum(w[0] for w in tr.table_writes.values()),
            "catalog.bytes_written": sum(w[1] for w in tr.table_writes.values()),
            "catalog.files_read": c["catalog.files_read"],
            "api.analyze_url_s": by_name["analyze_url"] / n,
            "api.analyze_url_hit_frac": c["api.analyze_hits"] / c["api.analyze_calls"] if c["api.analyze_calls"] else 0.0,
            "api.trending_topics_s": by_name["trending_topics"] / n,
            "pairs.clean_s": by_name["pair_corpus_clean"] / n,
            "pairs.keep_ids_s": by_name["pair_keep_ids"] / n,
            "imageops.quality_s": udf.get("imageops", 0.0) / n,
            "dedupops.udf_s": udf.get("dedupops", 0.0) / n,
            "pairs.kept_frac": c["pairs.kept"] / c["pairs.rows_in"] if c["pairs.rows_in"] else 0.0,
            "spark.jobs_per_gen": tot.get("jobs", 0) / n,
            "spark.stages_per_gen": tot.get("stages", 0) / n,
            "spark.tasks_per_gen": tot.get("tasks", 0) / n,
            "spark.shuffle_bytes": tot.get("shuffle_bytes", 0) / n,
            "spark.spill_bytes": tot.get("spill_bytes", 0) / n,
            "spark.gc_s": tot.get("gc_s", 0) / n,
            "spark.task_skew": tot.get("task_skew", 1.0),
            "spark.codegen_fallbacks": log.count(b"Whole-stage codegen disabled for plan") / n,
            "spark.single_partition_windows": log.count(b"No Partition Defined for Window operation") / n,
            "trace.count_s": layer_self.get("trace", 0.0) / n,
        }
        for layer in LAYERS:
            out[f"{layer}.self_s"] = layer_self.get(layer, 0.0) / n
            out[f"{layer}.task_s"] = sm["layer_task_s"].get(layer, 0.0) / n
        for t in TABLES:
            files, nbytes = tr.table_writes.get(t, (0, 0))
            out[f"catalog.files_per_commit.{t}"] = files / commits
            out[f"catalog.bytes_per_commit.{t}"] = nbytes / commits
        return out


def _loop(seconds: float, min_ops: int, op) -> int:
    """Closed loop, one client: call op(i) until `seconds` have passed and
    at least `min_ops` calls were made. Returns the number of calls."""
    t_end = pc() + seconds
    i = 0
    while i < min_ops or pc() < t_end:
        stop = op(i)
        i += 1
        if stop:
            break
    return i


class OpClock:
    """Wall and process-tree CPU time of one operation, appended to the
    outcome's op_s and op_cpu_s."""

    def __init__(self, out) -> None:
        self.out = out

    def __enter__(self):
        self.c0 = proctree.cpu_s()
        self.t0 = pc()
        return self

    def __exit__(self, *exc):
        self.out.op_s.append(pc() - self.t0)
        self.out.op_cpu_s.append(proctree.cpu_s() - self.c0)
        return False


# ======================================================================
# crawl_polite
# ======================================================================
def crawl_inputs(seed: int, size: str):
    """Seed list, synthetic web and crawl config for crawl_polite: a few
    hosts, a hot host, seeded 4xx/5xx and transport failures, robots
    Crawl-delay lines (synth hosts k % 3 == 0), a short politeness horizon
    and a page budget below admit_batch's 10,000-row cutoff.

    Every host gets /private/17 at priority 0, so it is always in the first
    batch and the robots-disallowed count does not depend on the seed; the
    other seed pages and their priorities do."""
    from web_scraper_spark.config import CrawlConfig
    from web_scraper_spark.synth import SynthWebConfig, page_url

    rng = random.Random(seed)
    n_hosts, pph, per_host = (16, 30, 5) if size == "full" else (3, 20, 2)
    web = SynthWebConfig(
        n_hosts=n_hosts, pages_per_host=pph, seed=seed,
        hot_host_share=0.6, error_rate=0.1, fail_rate=0.1,
    )
    public = [j for j in range(pph) if j % 10 != 7]
    seeds = [
        row
        for k in range(n_hosts)
        for row in [(page_url(k, 17), 0)] + [
            (page_url(k, j), rng.choice((1, 1, 2))) for j in sorted(rng.sample(public, per_host))
        ]
    ]
    cfg = CrawlConfig(
        max_pages=5000, max_depth=3, horizon=6.0, num_shards=4, num_host_buckets=4,
        hot_host_salt=4, compact_every=1, retention_keep_last=2, seed=seed,
    )
    return seeds, web, cfg


def engine_state(cat):
    pages = cat.read("pages")
    order = [(r["url"], r["host"], r["crawl_rank"])
             for r in pages.select("url", "host", "crawl_rank").orderBy("crawl_rank").collect()]
    seen_df = cat.read("seen")
    seen = {r["url_sha1"] for r in seen_df.select("url_sha1").collect()} if seen_df is not None else set()
    hs = {
        r["host"]: (r["min_delay"], r["current_delay"], r["last_fetch"], r["consecutive_errors"])
        for r in cat.read("host_state").collect()
    }
    return order, seen, hs, cat.current_snapshot().metrics


def crawl_polite(spark, seed, seconds, *, size, run_dir, tracer, log_path):
    import sys

    from harness import Outcome
    from pyspark.sql import functions as F
    from web_scraper_spark import catalog, crawl
    from web_scraper_spark.functions.urlops import canonicalize

    sys.path.insert(0, os.path.join(ROOT, "tests"))
    import oracle_sim

    out = Outcome()
    t = pc()
    seeds, web, cfg = crawl_inputs(seed, size)
    gen_s = pc() - t
    root = None
    for i in range(SETUP_REPS):
        t = pc()
        root = os.path.join(run_dir, f"catalog{i}")
        seeds_df = spark.createDataFrame(seeds, "url string, priority int")
        crawl.init_crawl(spark, root, seeds_df, cfg)
        out.setup_s.append(gen_s + pc() - t)

    state = {}

    def generation(i):
        with OpClock(out):
            if i == 0:
                # resume: reopen the committed catalog from disk
                state["cat"] = catalog.Catalog(spark, root)
            try:
                res = crawl.run_generation(state["cat"], cfg, web)
            except Exception as e:  # noqa: BLE001
                out.failed += 1
                out.problems.append(f"generation {i}: {e!r}")
                return True
            finally:
                out.attempted += 1
                tracer.release()
            return res.done

    with Timed(spark, tracer, log_path) as tm:
        n_gen = _loop(seconds, 1, generation)
    out.timed_s, out.timed_cpu_s = tm.seconds, tm.cpu_seconds
    cat = state["cat"]
    # init_crawl commits urls_processed = 0: the total is the timed delta
    out.items = float(cat.current_snapshot().metrics.get("urls_processed", 0))
    out.info.update({"generations": n_gen, "pages": out.items})

    if tracer.enabled:
        layers = tm.layers(n_gen)
        links = cat.read("links")
        n_links = links.count() if links is not None else 0
        t = pc()
        if links is not None:
            links.select(canonicalize(F.col("from_url"), F.col("to_url"))).write.format(
                "noop").mode("overwrite").save()
        layers["urlops.canonicalize_s"] = (pc() - t) / n_gen
        layers["textops.docs"] = out.items
        layers["textops.links_out"] = n_links
        gate_in = sum(i for i, _ in tracer.push_gate)
        layers["urlops.new_frontier_frac"] = (
            sum(o for _, o in tracer.push_gate) / gate_in if gate_in else 0.0
        )
        layers["catalog.bytes_per_page"] = _dir_bytes(root) / max(1.0, out.items)
        out.layer = layers

    if out.failed == 0:
        sim = oracle_sim.simulate(seeds, cfg, web, max_generations=n_gen)
        problems = gates.crawl_mismatches(*engine_state(cat), sim)
        if problems:
            out.failed = out.attempted
            out.problems += problems
    return out


# ======================================================================
# frontier_serve
# ======================================================================
def sha1_hex(s: str) -> str:
    return hashlib.sha1(s.encode()).hexdigest()


def serve_inputs(seed: int, size: str) -> dict:
    """A crawled web as the crawl would have left it: half the synthetic
    web's pages analysed and spread over several generations, the other
    half pending in the frontier, a host_state row per host."""
    import pandas as pd
    from web_scraper_spark.functions import textops
    from web_scraper_spark.synth import SynthWebConfig, all_urls, page_for_url

    rng = random.Random(seed)
    n_hosts, pph, gens = (40, 40, 4) if size == "full" else (6, 8, 2)
    web = SynthWebConfig(n_hosts=n_hosts, pages_per_host=pph, seed=seed)
    urls = all_urls(web)
    rng.shuffle(urls)
    crawled, pending = urls[: len(urls) // 2], urls[len(urls) // 2:]
    fetched = [page_for_url(u, web) for u in crawled]
    an = textops.analyze_series(pd.Series([f[1] for f in fetched]))
    pages = []
    for i, (u, (status, html, ctype, ms)) in enumerate(zip(crawled, fetched)):
        a = an.iloc[i]
        kw = a["keywords"]
        pages.append((
            u, sha1_hex(u), u.split("/")[2], html.encode(), ctype, int(status),
            len(html.encode()), int(ms), i % gens, float(i), i, 1,
            a["title"], a["description"], kw, list(a["meta"]), float(a["sentiment"]), "en",
            kw.split(",") if kw else [],
        ))
    hosts = sorted({u.split("/")[2] for u in urls})
    t_now = 8.0 * gens
    host_state = [
        (h, 1.0, rng.choice((1.0, 1.5, 2.0, 3.0)), round(rng.uniform(t_now - 6, t_now), 3), 0)
        for h in hosts
    ]
    frontier = [(u, rng.choice((0, 1, 1, 2))) for u in pending]
    seen_keys = [sha1_hex(u) for u in crawled]
    unseen_keys = [sha1_hex(u) for u in pending]
    probes = []
    for _ in range(8):
        batch = rng.sample(seen_keys, min(200, len(seen_keys))) + rng.sample(
            unseen_keys, min(200, len(unseen_keys)))
        probes.append(batch)
    return {
        "web": web, "gens": gens, "pages": pages, "host_state": host_state,
        "frontier": frontier, "seen_keys": set(seen_keys), "probes": probes,
        "hits": rng.sample(crawled, min(64, len(crawled))),
        "misses": rng.sample(pending, min(64, len(pending))), "t_now": t_now,
    }


def build_serve_catalog(spark, root: str, inp: dict, num_shards: int = 8):
    """Multi-snapshot, many-file catalog written through the engine's
    staging API: one fast-append commit per generation (seen bucket-pure,
    pages appended), then the frontier (shard copy-on-write) and
    host_state."""
    from pyspark.sql import functions as F
    from web_scraper_spark import schemas
    from web_scraper_spark.catalog import Catalog
    from web_scraper_spark.functions.urlops import host_expr, sha1_expr, shard_expr

    cat = Catalog(spark, root)
    pages = spark.createDataFrame(inp["pages"], schemas.PAGES).cache()
    for g in range(inp["gens"]):
        pg = pages.filter(F.col("fetched_at") == g)
        cat.stage_append("pages", pg)
        cat.stage_append_cow(
            "seen",
            pg.select("url_sha1", shard_expr(F.col("url_sha1"), num_shards).alias("shard")),
            "shard",
        )
        cat.commit(generation=g + 1, t0=8.0 * g, metrics={"num_shards": num_shards})
    fr = (
        spark.createDataFrame(inp["frontier"], "url string, priority int")
        .withColumn("url_canon", F.col("url"))
        .withColumn("url_sha1", sha1_expr(F.col("url_canon")))
        .withColumn("host", host_expr(F.col("url_canon")))
        .withColumn("shard", shard_expr(F.col("url_sha1"), num_shards))
        .select("url", "url_canon", "url_sha1", "host", "shard", "priority",
                F.lit(1).alias("depth"), F.lit(None).cast("string").alias("parent_url"),
                F.lit(inp["gens"]).cast("long").alias("discovered_at"))
    )
    cat.stage_cow("frontier", fr, "shard", None)
    cat.stage("host_state", spark.createDataFrame(inp["host_state"], schemas.HOST_STATE))
    cat.commit(generation=inp["gens"], t0=inp["t_now"], metrics={"num_shards": num_shards})
    pages.unpersist()


QUERY_KINDS = ("membership", "analyze_hit", "analyze_miss", "trending", "admit", "curate")
HORIZON = 8.0
PREVIEW_BUDGET = 20_000  # above admit_batch's 10,000 cutoff: the global-rank path


def frontier_serve(spark, seed, seconds, *, size, run_dir, tracer, log_path):
    import pandas as pd
    from harness import Outcome
    from web_scraper_spark import api, catalog, schemas
    from web_scraper_spark.functions import textops
    from web_scraper_spark.functions.dedupops import unpersist_op_caches
    from web_scraper_spark.operators import pairs, scheduler, seen
    from web_scraper_spark.synth import page_for_url

    out = Outcome()
    t = pc()
    inp = serve_inputs(seed, size)
    pdf, boiler = pairs_inputs(seed, size)
    image_rows = list(pdf.itertuples(index=False, name=None))
    gen_s = pc() - t
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    root = images = None
    for i in range(SETUP_REPS):
        t = pc()
        root = os.path.join(run_dir, f"catalog{i}")
        build_serve_catalog(spark, root, inp)
        if images is not None:
            images.unpersist()
        images = spark.createDataFrame(image_rows, schemas.IMAGES).repartition(cores).cache()
        images.count()
        out.setup_s.append(gen_s + pc() - t)

    web, answers = inp["web"], []
    state = {}

    def query(kind, j):
        cat = state["cat"]
        if kind == "membership":
            keys = inp["probes"][j % len(inp["probes"])]
            probe = spark.createDataFrame([(k,) for k in keys], "url_sha1 string")
            return seen.membership(probe, cat.read("seen"), 8).collect()
        if kind == "analyze_hit":
            return api.analyze_url(spark, cat, inp["hits"][j % len(inp["hits"])], web).collect()
        if kind == "analyze_miss":
            return api.analyze_url(spark, cat, inp["misses"][j % len(inp["misses"])], web).collect()
        if kind == "trending":
            return api.trending_topics(cat, k=10).collect()
        if kind == "admit":
            return scheduler.admit_batch(
                cat.read("frontier"), cat.read("host_state"), inp["t_now"],
                horizon=HORIZON, salt=4, max_batch=PREVIEW_BUDGET,
            ).collect()
        res = pairs.pair_corpus_clean(images, min_sharp_milli=2_000_000, min_ent_milli=4_000)
        return [r[0] for r in res.select("image_id").collect()]

    def one_round(j):
        """One client session: every query kind once, each timed alone.
        Whole rounds keep the query mix identical from run to run."""
        for kind in QUERY_KINDS:
            with OpClock(out):
                try:
                    answers.append((kind, j, query(kind, j)))
                except Exception as e:  # noqa: BLE001
                    out.failed += 1
                    out.problems.append(f"{kind} query {j}: {e!r}")
                finally:
                    out.attempted += 1
                    tracer.release()
                    unpersist_op_caches()  # every query is a fresh request
        return False

    with Timed(spark, tracer, log_path) as tm:
        with tracer.span("open", "bench"):
            state["cat"] = catalog.Catalog(spark, root)
        rounds = _loop(seconds, 1, one_round)
    out.timed_s, out.timed_cpu_s = tm.seconds, tm.cpu_seconds
    n = len(out.op_s)
    out.items = float(n)
    out.info.update({
        "queries": n, "rounds": rounds, "images": len(pdf),
        "catalog_files": sum(len(e["files"]) for e in state["cat"].current_snapshot().tables.values()),
    })
    if tracer.enabled:
        out.layer = tm.layers(n)

    # ---- answers vs values known from how the catalog and images were built
    titles = {p[0]: p[12] for p in inp["pages"]}
    trend = gates.expected_trending([(p[0], p[2], p[8], p[18]) for p in inp["pages"]])
    admit = gates.expected_admission(
        [(u, u.split("/")[2], pr) for u, pr in inp["frontier"]],
        {h: (cd, lf) for h, _, cd, lf, _ in inp["host_state"]},
        inp["t_now"], HORIZON, PREVIEW_BUDGET,
    )
    kept = pairs_expected(len(pdf), seed, boiler)
    miss_titles = {}
    for kind, j, rows in answers:
        if kind == "membership":
            keys = inp["probes"][j % len(inp["probes"])]
            bad = gates.membership_mismatches(rows, {k: k in inp["seen_keys"] for k in keys})
        elif kind == "analyze_hit":
            url = inp["hits"][j % len(inp["hits"])]
            bad = gates.analyze_mismatches(rows, url, titles[url], True)
        elif kind == "analyze_miss":
            url = inp["misses"][j % len(inp["misses"])]
            if url not in miss_titles:
                html = page_for_url(url, web)[1]
                miss_titles[url] = textops.analyze_series(pd.Series([html])).iloc[0]["title"]
            bad = gates.analyze_mismatches(rows, url, miss_titles[url], False)
        elif kind == "trending":
            bad = gates.trending_mismatches(rows, trend)
        elif kind == "admit":
            bad = gates.admission_mismatches(rows, admit)
        else:
            bad = gates.kept_ids_mismatches(rows, kept)
        if bad:
            out.failed += 1
            out.problems += bad
    return out


# ---------------------------------------------------------------- images
def pairs_inputs(seed: int, size: str):
    """Input-contract image rows (image_id, bytes, w, h, fmt, caption,
    phash) from synth.images_pdf, with a boilerplate caption on every id
    ending in 3 so the caption dedup stage has exact duplicates to drop."""
    import pandas as pd
    from __spark_entry__ import _BOILER_CAPTION
    from web_scraper_spark import synth

    n = 256 if size == "full" else 48
    pdf = synth.images_pdf(pd.Series(range(n)), seed)
    pdf.loc[pdf["image_id"].str[13] == "3", "caption"] = _BOILER_CAPTION
    return pdf, _BOILER_CAPTION


def pairs_expected(n: int, seed: int, boiler: str) -> set:
    """Kept ids of the repository's pair_corpus_clean_quality SQL twin over
    the first n synthetic images of `seed`, run in DuckDB."""
    import __spark_entry__ as entry
    import duckdb

    sql = gates.pairs_oracle_sql(
        entry._image_pair_full_values(n, seed), entry._image_quality_milli_values(n, seed), boiler)
    con = duckdb.connect()
    try:
        return {r[0] for r in con.sql(sql).fetchall()}
    finally:
        con.close()


WORKLOADS = {
    "crawl_polite": crawl_polite,
    "frontier_serve": frontier_serve,
}
