"""Self-test of the benchmark.

    python3 -m pytest perfbench/tests -q

- the correctness gates reject corrupted answers (no Spark needed);
- every workload runs end to end at tiny size and prints a correct result
  line (one Spark session per workload, about a minute each);
- the benchmark refuses to run without the engine package next to it.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, ROOT)
sys.path.insert(0, BENCH)
sys.path.insert(0, os.path.join(ROOT, "tests"))

import gates  # noqa: E402
import workloads  # noqa: E402


# ------------------------------------------------------------- crawl gate
@pytest.fixture(scope="module")
def crawl_ref():
    """Simulator state for a tiny crawl, reshaped as the engine reports it;
    the gate must accept it unchanged."""
    import oracle_sim

    seeds, web, cfg = workloads.crawl_inputs(3, "tiny")
    sim = oracle_sim.simulate(seeds, cfg, web, max_generations=2)
    order = [(u, h, r) for r, (_, u, h, _) in enumerate(sim.crawl_order)]
    hs = {h: (s.min_delay, s.current_delay, s.last_fetch, s.errors)
          for h, s in sim.host_state.items()}
    return order, set(sim.seen), hs, dict(sim.metrics), sim


def test_crawl_gate_accepts_reference(crawl_ref):
    order, seen, hs, m, sim = crawl_ref
    assert len(order) >= 2 and seen
    assert gates.crawl_mismatches(order, seen, hs, m, sim) == []


def test_crawl_gate_rejects_dropped_seen_key(crawl_ref):
    order, seen, hs, m, sim = crawl_ref
    dropped = set(sorted(seen)[1:])
    assert any("seen set" in p for p in gates.crawl_mismatches(order, dropped, hs, m, sim))


def test_crawl_gate_rejects_swapped_rank(crawl_ref):
    order, seen, hs, m, sim = crawl_ref
    swapped = list(order)
    (u0, h0, _), (u1, h1, _) = swapped[0], swapped[1]
    swapped[0], swapped[1] = (u1, h1, 0), (u0, h0, 1)
    assert any("crawl order" in p for p in gates.crawl_mismatches(swapped, seen, hs, m, sim))


def test_crawl_gate_rejects_host_state_and_metrics(crawl_ref):
    order, seen, hs, m, sim = crawl_ref
    h = next(iter(hs))
    bad_hs = dict(hs)
    a, b, c, e = bad_hs[h]
    bad_hs[h] = (a, b + 0.5, c, e)
    assert gates.crawl_mismatches(order, seen, bad_hs, m, sim)
    bad_m = dict(m, urls_processed=m["urls_processed"] + 1)
    assert gates.crawl_mismatches(order, seen, hs, bad_m, sim)


# ------------------------------------------------------------- serve gates
def test_membership_gate():
    want = {"a": True, "b": False}
    assert gates.membership_mismatches([("a", True), ("b", False)], want) == []
    assert gates.membership_mismatches([("a", True), ("b", True)], want)
    assert gates.membership_mismatches([("a", True)], want)


def test_trending_and_admission_gates():
    pages = [("u1", "h1", 0, ["x", "y"]), ("u2", "h2", 1, ["x"]), ("u3", "h1", 1, ["x", "z"])]
    exp = gates.expected_trending(pages, k=2)
    assert [r[0] for r in exp] == ["x", "y"]
    assert exp[0][1] == 3 and exp[0][2] == pytest.approx(1.0)  # 1 -> 2 pages
    assert exp[0][4] == ["z"] and exp[0][5] == ["h1", "h2"]
    rows = [dict(topic=t, frequency=f, growth_rate=g, rk=r, related_topics=rel, sources=src)
            for t, f, g, r, rel, src in exp]
    assert gates.trending_mismatches(rows, exp) == []
    rows[0]["frequency"] += 1
    assert gates.trending_mismatches(rows, exp)

    frontier = [("http://a/1", "a", 1), ("http://a/2", "a", 1), ("http://b/1", "b", 0)]
    exp_adm = gates.expected_admission(frontier, {"a": (2.0, 9.0)}, 10.0, 3.0, 100)
    assert exp_adm == {("http://a/1", 1, 11.0), ("http://b/1", 1, 10.0)}
    got = [dict(url_canon=u, host_rank=r, fetch_time=t) for u, r, t in exp_adm]
    assert gates.admission_mismatches(got, exp_adm) == []
    assert gates.admission_mismatches(got[:1], exp_adm)


def test_pairs_gate_rejects_extra_id():
    assert gates.kept_ids_mismatches(["a", "b"], {"a", "b"}) == []
    assert gates.kept_ids_mismatches(["a", "b", "c"], {"a", "b"})
    assert gates.kept_ids_mismatches(["a", "a"], {"a"})


def test_pairs_sql_twin_matches_repository_oracle():
    """The benchmark's pair-curation reference, built from the repository's
    SQL fragments, returns the same ids as the repository's own
    pair_corpus_clean_quality oracle on that oracle's inputs."""
    import __spark_entry__ as entry
    import duckdb

    ours = workloads.pairs_expected(512, 42, entry._BOILER_CAPTION)
    con = duckdb.connect()
    try:
        ref = {r[0] for r in con.sql(
            f"SELECT image_id FROM ({entry.oracle_sql()['pair_corpus_clean_quality']})"
        ).fetchall()}
    finally:
        con.close()
    assert ours == ref and 0 < len(ref) < 512


# ------------------------------------------------------------- smoke runs
def _run(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("workload", ["crawl_polite", "frontier_serve"])
@pytest.mark.parametrize("trace", ["0", "1"])
def test_tiny_run(workload, trace):
    p = _run("--workload", workload, "--seed", "5", "--seconds", "1",
             "--trace", trace, "--size", "tiny")
    assert p.returncode == 0, p.stderr[-2000:]
    line = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] and line["failed"] == 0 and line["attempted"] >= 1, line
    want = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))[
        "per_layer" if trace == "1" else "end_to_end"]
    assert {m["name"]: m["unit"] for m in want} == {
        k: v["unit"] for k, v in line["metrics"].items()}


def test_refuses_without_engine(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _run("--workload", "crawl_polite", "--seed", "1", "--seconds", "1",
             "--trace", "0", cwd=str(tmp_path))
    assert p.returncode != 0 and p.stdout.strip() == ""
