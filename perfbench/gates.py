"""Correctness gates: every benchmark answer against a reference.

Each gate returns a list of mismatch messages (empty = correct). The gates
are plain Python over collected rows, so the self-test can feed them a
corrupted answer without a Spark session.

- crawl:      engine state == tests/oracle_sim.simulate, the repository's
              pure-Python crawl simulator, for the same seeds, config and
              generation count;
- serve:      membership flags, analyze_url answers, trending topics and the
              admission preview == values derived in pandas from the rows
              the catalog was built from;
- pairs:      kept image ids == a DuckDB replay of the repository's SQL twin
              of pairs.pair_corpus_clean (the ``pair_corpus_clean_quality``
              oracle in __spark_entry__.oracle_sql), over the same rows.
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict


# ----------------------------------------------------------------- crawl
def round_state(hs: dict) -> dict:
    return {
        h: (round(a, 9), round(b, 9), round(c, 9), int(e))
        for h, (a, b, c, e) in hs.items()
    }


def sim_host_state(sim) -> dict:
    return round_state({
        h: (s.min_delay, s.current_delay, s.last_fetch, s.errors)
        for h, s in sim.host_state.items()
    })


CRAWL_METRICS = (
    "urls_processed", "urls_skipped", "urls_disallowed",
    "bytes_downloaded", "urls_failed",
)


def crawl_mismatches(order, seen, host_state, metrics, sim) -> list[str]:
    """order: [(url, host, crawl_rank)] sorted by crawl_rank; seen: set of
    url_sha1; host_state: {host: (min_delay, current_delay, last_fetch,
    consecutive_errors)}; metrics: the current snapshot's metrics."""
    out = []
    eng = [u for u, _, _ in order]
    ref = [u for _, u, _, _ in sim.crawl_order]
    if eng != ref:
        i = next(
            (k for k, (a, b) in enumerate(zip(eng, ref)) if a != b),
            min(len(eng), len(ref)),
        )
        out.append(f"crawl order differs at position {i} "
                   f"(engine {len(eng)} pages, simulator {len(ref)})")
    ranks = [r for _, _, r in order]
    if ranks != list(range(len(ranks))):
        out.append("crawl_rank is not 0..n-1")
    if set(seen) != sim.seen:
        out.append(f"seen set differs: {len(set(seen) - sim.seen)} extra, "
                   f"{len(sim.seen - set(seen))} missing")
    if round_state(host_state) != sim_host_state(sim):
        out.append("host_state differs from the simulator")
    for k in CRAWL_METRICS:
        if int(metrics.get(k, 0)) != int(sim.metrics.get(k, 0)):
            out.append(f"snapshot metric {k}: engine {metrics.get(k, 0)} "
                       f"simulator {sim.metrics.get(k, 0)}")
    return out


# ----------------------------------------------------------------- serve
def membership_mismatches(rows, expected: dict) -> list[str]:
    got = {r[0]: bool(r[1]) for r in rows}
    if got != expected:
        bad = sum(1 for k in expected if got.get(k) != expected[k])
        return [f"membership: {bad} of {len(expected)} flags wrong, "
                f"{len(got)} rows returned"]
    return []


def analyze_mismatches(rows, url: str, title, cached: bool) -> list[str]:
    if len(rows) != 1:
        return [f"analyze_url({url}): {len(rows)} rows"]
    r = rows[0]
    out = []
    if r["url"] != url:
        out.append(f"analyze_url({url}): url {r['url']}")
    if r["title"] != title:
        out.append(f"analyze_url({url}): title {r['title']!r} != {title!r}")
    if bool(r["cached"]) != cached:
        out.append(f"analyze_url({url}): cached={r['cached']}, want {cached}")
    return out


def expected_trending(pages, k: int = 10, n_related: int = 3) -> list[tuple]:
    """api.trending_topics semantics over (url, host, gen, topics) rows:
    (topic, frequency, growth_rate, rk, related_topics, sources)."""
    pt = [(u, h, g, t) for u, h, g, ts in pages for t in (ts or []) if len(t) > 0]
    per_gen: dict[str, Counter] = defaultdict(Counter)
    for _, _, g, t in pt:
        per_gen[t][g] += 1
    stats = []
    for t, c in per_gen.items():
        gens = sorted(c)
        last = c[gens[-1]]
        prev = c[gens[-2]] if len(gens) > 1 else None
        growth = None if prev is None else (last - prev) / prev
        stats.append((t, sum(c.values()), growth))
    top = sorted(stats, key=lambda s: (-s[1], s[0]))[:k]
    names = {t for t, _, _ in top}

    def topn(counter: Counter) -> list[str]:
        return [v for v, _ in sorted(counter.items(), key=lambda kv: (-kv[1], kv[0]))][:n_related]

    sources: dict[str, Counter] = defaultdict(Counter)
    for _, h, _, t in pt:
        if t in names:
            sources[t][h] += 1
    latest = max((g for _, _, g, _ in pt), default=None)
    by_url: dict[str, list[str]] = defaultdict(list)
    for u, _, g, t in pt:
        if g == latest:
            by_url[u].append(t)
    related: dict[str, Counter] = defaultdict(Counter)
    for ts in by_url.values():
        for a in ts:
            if a in names:
                for b in ts:
                    if a != b:
                        related[a][b] += 1
    return [
        (t, f, g, i + 1, topn(related[t]), topn(sources[t]))
        for i, (t, f, g) in enumerate(top)
    ]


def trending_mismatches(rows, expected: list[tuple]) -> list[str]:
    got = [
        (r["topic"], int(r["frequency"]), r["growth_rate"], int(r["rk"]),
         list(r["related_topics"]), list(r["sources"]))
        for r in rows
    ]
    if len(got) != len(expected):
        return [f"trending_topics: {len(got)} rows, want {len(expected)}"]
    for a, b in zip(got, expected):
        ga, gb = a[2], b[2]
        same_growth = (ga is None and gb is None) or (
            ga is not None and gb is not None and math.isclose(ga, gb, abs_tol=1e-6)
        )
        if a[:2] != b[:2] or a[3:] != b[3:] or not same_growth:
            return [f"trending_topics: row {a} != {b}"]
    return []


def expected_admission(frontier, host_state: dict, t0: float, horizon: float,
                       max_batch: int) -> set:
    """scheduler.admit_batch semantics: per host, (priority, url) order,
    slot i at max(last_fetch + delay, t0) + i * delay inside the horizon;
    then the global first max_batch rows by (priority, url).
    frontier: [(url_canon, host, priority)]; host_state: {host: (delay,
    last_fetch)}. Returns {(url_canon, host_rank, fetch_time)}."""
    by_host: dict[str, list] = defaultdict(list)
    for u, h, p in frontier:
        by_host[h].append((p, u))
    slotted = []
    for h, rows in by_host.items():
        delay, last = host_state.get(h, (1.0, 0.0))
        base = max(last + delay, float(t0))
        for i, (p, u) in enumerate(sorted(rows)):
            ft = base + i * delay
            if ft < float(t0 + horizon):
                slotted.append((p, u, i + 1, ft))
    slotted.sort()
    return {(u, r, round(ft, 9)) for _, u, r, ft in slotted[:max_batch]}


def admission_mismatches(rows, expected: set) -> list[str]:
    got = {(r["url_canon"], int(r["host_rank"]), round(r["fetch_time"], 9)) for r in rows}
    if len(rows) != len(got) or got != expected:
        return [f"admit_batch preview: {len(got ^ expected)} rows differ "
                f"({len(rows)} returned, {len(expected)} expected)"]
    return []


# ----------------------------------------------------------------- pairs
def pairs_oracle_sql(values: str, quality_values: str, boiler: str) -> str:
    """The ``pair_corpus_clean_quality`` SQL twin with this run's rows as
    the VALUES literals; the caption fragments come from the repository's
    own SQL twins of the Spark kernels."""
    from web_scraper_spark.functions import dedupops
    from web_scraper_spark.functions.textanalysis import md5_60_sql, token_count_sql

    tok = token_count_sql("caption")
    fp = md5_60_sql("caption")
    sh = dedupops.simhash_sql("caption")
    return f"""
      WITH p0(image_id, w, h, fmt, caption0, phash) AS (VALUES {values}),
      qv(image_id, sharp0, ent0) AS (VALUES {quality_values}),
      p1 AS (
        SELECT image_id, w, h, fmt, phash,
               CASE WHEN substr(image_id, 14, 1) = '3'
                    THEN '{boiler}' ELSE caption0 END AS caption
        FROM p0
      ),
      p AS (
        SELECT p1.image_id, caption, phash
        FROM p1 JOIN qv ON p1.image_id = qv.image_id
        WHERE w * h >= 1024
          AND greatest(w, h) / least(w, h) <= 4.0
          AND {tok} >= 4
          AND qv.sharp0 >= 2000000 AND qv.ent0 >= 4000
      ),
      img_drops AS (
        SELECT DISTINCT b.image_id FROM p a JOIN p b
          ON a.image_id < b.image_id
         AND bit_count(xor(a.phash, b.phash)) <= 3
      ),
      fp AS (SELECT image_id AS id, {fp} AS fp FROM p),
      exact_drops AS (
        SELECT f.id FROM fp f
        JOIN (SELECT fp, min(id) AS m FROM fp GROUP BY fp) g
          ON f.fp = g.fp AND f.id <> g.m
      ),
      sh AS (SELECT image_id AS id, {sh} AS sh FROM p),
      near_drops AS (
        SELECT DISTINCT b.id FROM sh a JOIN sh b ON a.id < b.id
        WHERE bit_count(xor(a.sh, b.sh)) <= 3
      )
      SELECT image_id FROM p
      WHERE image_id NOT IN (SELECT image_id FROM img_drops)
        AND image_id NOT IN (
          SELECT id FROM exact_drops UNION SELECT id FROM near_drops)
    """


def kept_ids_mismatches(got, expected: set) -> list[str]:
    g = list(got)
    if len(g) != len(set(g)) or set(g) != expected:
        return [f"pair_corpus_clean: {len(set(g) ^ expected)} ids differ "
                f"({len(g)} kept, {len(expected)} expected)"]
    return []
