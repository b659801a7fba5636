"""End-to-end crawl over the REAL HTTP transport (cfg.transport='http')
against an in-process localhost server: the full generation loop — robots
fetched over the wire and honored, link discovery, politeness, T7 failure
backoff — with zero synthetic-web involvement. This is the reference's
actual use case (fetch_url.c:9-31 + url_processor.c:107-118) selected by
config instead of a code edit."""

import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest
from pyspark.sql import functions as F

from web_scraper_spark import schemas
from web_scraper_spark.config import CrawlConfig
from web_scraper_spark.crawl import run_crawl
from web_scraper_spark.synth import SynthWebConfig

_HITS: dict[str, int] = {}
_LOCK = threading.Lock()


def _page(title: str, links: list[str]) -> bytes:
    anchors = "".join(f'<a href="{l}">x</a>' for l in links)
    return f"<html><head><title>{title}</title></head><body>{anchors}</body></html>".encode()


class _Handler(BaseHTTPRequestHandler):
    def log_message(self, *a):  # quiet
        pass

    def do_GET(self):
        with _LOCK:
            _HITS[self.path] = _HITS.get(self.path, 0) + 1
        if self.path == "/robots.txt":
            # trailing * — the engine mirrors the reference matcher
            # (robots_parser.c:318-367): a no-star rule is an EXACT path
            # match, prefix semantics require the explicit wildcard
            body = b"User-agent: *\nDisallow: /private/*\n"
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
            return
        if self.path == "/dead":
            # always abort mid-request -> client transport failure (T7)
            self.connection.close()
            return
        pages = {
            "/": _page("root", ["/a", "/b", "/private/x", "/dead"]),
            "/a": _page("page a", ["/b"]),
            "/b": _page("page b", []),
            "/private/x": _page("private", []),
        }
        body = pages.get(self.path)
        if body is None:
            self.send_response(404)
            self.send_header("Content-Length", "4")
            self.end_headers()
            self.wfile.write(b"nope")
            return
        self.send_response(200)
        self.send_header("Content-Type", "text/html")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)


@pytest.fixture(scope="module")
def server():
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def test_http_crawl_end_to_end(spark, server, tmp_path):
    _HITS.clear()
    cfg = CrawlConfig(
        transport="http",
        request_timeout=3,
        retry_count=2,
        retry_delay=1,
        max_depth=2,
        max_pages=50,
        horizon=120.0,
        num_shards=8,
    )
    seeds = spark.createDataFrame([(f"{server}/", 0)], ["url", "priority"])
    # web config is unused by the http transport but part of the signature
    cat = run_crawl(
        spark, str(tmp_path / "cat"), seeds, cfg, SynthWebConfig(), max_generations=10
    )

    pages = {r["url"]: r for r in cat.read("pages").collect()}
    assert f"{server}/" in pages
    assert f"{server}/a" in pages
    assert f"{server}/b" in pages
    assert pages[f"{server}/a"]["title"] == "page a"
    # robots honored over the wire: the disallowed path was NEVER requested
    assert f"{server}/private/x" not in pages
    assert _HITS.get("/private/x", 0) == 0
    # robots.txt itself fetched exactly once (TTL-cached thereafter)
    assert _HITS.get("/robots.txt") == 1
    # every page requested exactly once: each generation reads its fetch
    # output back from one checkpoint, never re-running the fetch per
    # consumer; /dead is requested once per T7 attempt
    for path in ("/", "/a", "/b"):
        assert _HITS.get(path) == 1, (path, _HITS)
    assert _HITS.get("/dead") == cfg.retry_count, _HITS

    # T7 over the real transport: /dead failed retry_count times then went
    # terminal; it never entered pages or the seen set
    failures = {r["url_canon"]: r for r in cat.read("fetch_failures").collect()}
    dead = failures[f"{server}/dead"]
    assert dead["attempts"] == cfg.retry_count
    assert dead["next_retry_gen"] == schemas.GIVEUP_GEN
    assert f"{server}/dead" not in pages
    seen_hashes = {r["url_sha1"] for r in cat.read("seen").collect()}
    dead_sha = (
        spark.createDataFrame([(f"{server}/dead",)], ["u"])
        .select(F.sha1("u").alias("s"))
        .collect()[0]["s"]
    )
    assert dead_sha not in seen_hashes

    snap = cat.current_snapshot()
    assert snap.metrics["urls_disallowed"] >= 1
    assert snap.metrics["urls_failed"] >= cfg.retry_count
    assert snap.metrics["urls_processed"] == 3  # /, /a, /b


def test_unknown_transport_rejected(spark, tmp_path):
    from web_scraper_spark.crawl import init_crawl, run_generation

    cfg = CrawlConfig(transport="carrier-pigeon", num_shards=8)
    seeds = spark.createDataFrame([("http://h0.example/", 0)], ["url", "priority"])
    cat = init_crawl(spark, str(tmp_path / "cat2"), seeds, cfg)
    with pytest.raises(ValueError, match="transport"):
        run_generation(cat, cfg, SynthWebConfig())
