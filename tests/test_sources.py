"""Source round-trips: pages written as parquet/orc/json/csv read back
byte-exactly (html binary through base64 wire formats) and feed the
extractor."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from engine.extract.udf import run_extract
from engine.sources import (
    read_pages_csv,
    read_pages_json,
    read_pages_orc,
    read_pages_parquet,
)
from engine.synth import generate_pages


@pytest.fixture(scope="module")
def pages(spark):
    return generate_pages(spark, 120, partitions=2).cache()


def _fingerprint(df):
    return {
        (r["url"], r["sha"], r["n"])
        for r in df.select(
            "url",
            F.sha2(F.coalesce(F.col("html"), F.lit(b"")), 256).alias("sha"),
            F.coalesce(F.length("html"), F.lit(0)).alias("n"),
        ).collect()
    }


def _wire(pages):
    """Pages in the json/csv wire shape: html as one-line base64 text
    (Spark's base64 may be MIME-chunked, a newline every 76 chars)."""
    return pages.select(
        "url",
        "warc_ts",
        F.regexp_replace(F.base64("html"), "[\\r\\n]", "").alias("html_b64"),
        "text",
        "lang",
    )


def test_parquet_roundtrip(spark, pages, tmp_path):
    p = str(tmp_path / "pq")
    pages.write.parquet(p)
    back = read_pages_parquet(spark, p)
    assert _fingerprint(back) == _fingerprint(pages)


def test_orc_roundtrip_binary_exact(spark, pages, tmp_path):
    p = str(tmp_path / "orc")
    pages.write.orc(p)
    back = read_pages_orc(spark, p)
    assert _fingerprint(back) == _fingerprint(pages)


def test_json_roundtrip_binary_exact(spark, pages, tmp_path):
    p = str(tmp_path / "js")
    _wire(pages).write.json(p)
    back = read_pages_json(spark, p)
    assert _fingerprint(back) == _fingerprint(pages)
    # and the re-ingested table extracts identically
    a = run_extract(pages).select("url", "n_chars", "status")
    b = run_extract(back).select("url", "n_chars", "status")
    assert a.exceptAll(b).count() == 0


def test_csv_roundtrip_binary_exact(spark, pages, tmp_path):
    p = str(tmp_path / "cs")
    _wire(pages).write.option("header", True).csv(p)
    back = read_pages_csv(spark, p)
    assert _fingerprint(back) == _fingerprint(pages)


def test_files_ingest_one_file_per_page(spark, pages, tmp_path):
    """Raw-files ingest (scraped-dump shape): every file becomes one page
    row with its bytes intact, through a pure binaryFile scan (no Python,
    no shuffle)."""
    import os

    from engine.sources import read_pages, read_pages_files

    d = tmp_path / "dump"
    os.makedirs(d)
    want = {}
    for r in pages.limit(10).collect():
        name = f"doc{len(want):03d}.html"
        body = bytes(r["html"] or b"")
        (d / name).write_bytes(body)
        want[name] = body
    back = read_pages_files(spark, str(d))
    rows = back.collect()
    assert {os.path.basename(r["url"]): bytes(r["html"]) for r in rows} == want
    assert all(r["warc_ts"] is not None and r["text"] is None for r in rows)
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan
    assert read_pages(spark, str(d), "files").count() == 10


def test_files_ingest_recurses_into_tree(spark, tmp_path):
    """Review finding: a scraped dump is a TREE — nested files must
    ingest (binaryFile needs recursiveFileLookup or silently reads only
    the top level)."""
    import os

    from engine.sources import read_pages_files

    d = tmp_path / "tree"
    os.makedirs(d / "site-a")
    os.makedirs(d / "site-b" / "deep")
    (d / "top.html").write_bytes(b"<p>top</p>")
    (d / "site-a" / "p1.html").write_bytes(b"<p>a1</p>")
    (d / "site-b" / "deep" / "p2.html").write_bytes(b"<p>b2</p>")
    rows = read_pages_files(spark, str(d)).collect()
    assert {os.path.basename(r["url"]): bytes(r["html"]) for r in rows} == {
        "top.html": b"<p>top</p>",
        "p1.html": b"<p>a1</p>",
        "p2.html": b"<p>b2</p>",
    }


def test_canonical_url_collapses_trivial_variants(spark):
    """canonical_url must merge spellings of one resource (case, default
    port, fragment, tracking params, query order) while keeping distinct
    resources and unparseable strings apart — and stay pure-JVM."""
    from engine.sources import canonical_url

    rows = [
        ("http://Site.com/a?utm_source=x&b=2&a=1",),
        ("HTTP://site.com:80/a?a=1&b=2#frag",),
        ("http://site.com/a?b=2&a=1&fbclid=abc",),
        ("https://site.com:443/",),
        ("https://site.com",),          # empty path -> '/'
        ("http://site.com/a?b=3",),     # DIFFERENT resource (b=3)
        ("http://other.com/a?a=1&b=2",),  # different host
        ("not a url at all",),          # passes through unchanged
        ("mailto:x@y.z",),              # no authority -> unchanged
    ]
    df = spark.createDataFrame(rows, "url string").select(
        "url", canonical_url("url").alias("c")
    )
    got = {r["url"]: r["c"] for r in df.collect()}
    canon = "http://site.com/a?a=1&b=2"
    assert got["http://Site.com/a?utm_source=x&b=2&a=1"] == canon
    assert got["HTTP://site.com:80/a?a=1&b=2#frag"] == canon
    assert got["http://site.com/a?b=2&a=1&fbclid=abc"] == canon
    assert got["https://site.com:443/"] == "https://site.com/"
    assert got["https://site.com"] == "https://site.com/"
    assert got["http://site.com/a?b=3"] == "http://site.com/a?b=3"
    assert got["http://other.com/a?a=1&b=2"] == "http://other.com/a?a=1&b=2"
    assert got["not a url at all"] == "not a url at all"
    assert got["mailto:x@y.z"] == "mailto:x@y.z"
    # RFC 3986: userinfo is CASE-SENSITIVE — only host lowercases
    ui = spark.createDataFrame(
        [("http://User@Site.com:80/a",), ("http://user@site.com/a",)],
        "url string",
    ).select(canonical_url("url").alias("c")).collect()
    assert ui[0]["c"] == "http://User@site.com/a"
    assert ui[1]["c"] == "http://user@site.com/a"
    assert ui[0]["c"] != ui[1]["c"]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan  # map-side JVM expressions only


def test_canonical_url_idempotent(spark):
    """canonical_url must be a FIXED POINT: canonical(canonical(u)) ==
    canonical(u). If the canonical form re-canonicalized drifted (e.g.
    the userinfo rebuild or port stripping produced a form the next pass
    rewrites), cross-run anti-joins keyed on it would stop matching rows
    they matched the round before."""
    import random

    from engine.sources import canonical_url

    rng = random.Random(7)
    parts_scheme = ["http", "https", "HTTP", "ftp"]
    parts_host = ["Site.com", "a.B.c", "x", "127.0.0.1"]
    urls = [
        (
            f"{rng.choice(parts_scheme)}://"
            f"{rng.choice(['', 'User:Pw@', 'u@'])}"
            f"{rng.choice(parts_host)}"
            f"{rng.choice(['', ':80', ':443', ':8080'])}"
            f"{rng.choice(['', '/', '/p/q.html'])}"
            f"{rng.choice(['', '?b=2&a=1', '?utm_source=x', '?a=1&utm_b=c&z='])}"
            f"{rng.choice(['', '#frag'])}",
        )
        for _ in range(200)
    ] + [("garbage no scheme",), ("",), ("http://",)]
    df = spark.createDataFrame(urls, "url string").select(
        canonical_url("url").alias("c1")
    ).select("c1", canonical_url("c1").alias("c2"))
    bad = df.where(
        ~(F.col("c1").eqNullSafe(F.col("c2")))
    ).collect()
    assert not bad, bad[:5]


def test_dedup_latest_crawl_canonical_key(spark):
    """canonical=True collapses url variants to ONE logical doc (latest
    warc_ts wins; url tie-break) and keeps the original url; default
    behavior is untouched raw-key dedup."""
    import datetime as dt

    from engine.extract.udf import dedup_latest_crawl

    t0, t1 = dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2)
    rows = [
        ("http://s.com/a?utm_source=x", t0, b"<p>old</p>", None, None),
        ("HTTP://s.com:80/a", t1, b"<p>new</p>", None, None),
        ("http://s.com/b", t0, b"<p>b</p>", None, None),
    ]
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    raw = dedup_latest_crawl(df)
    assert raw.count() == 3  # raw keys all distinct — frozen behavior
    canon = dedup_latest_crawl(df, canonical=True).collect()
    assert len(canon) == 2
    winner = {bytes(r["html"]): r["url"] for r in canon}
    assert b"<p>new</p>" in winner  # latest crawl of the /a group won
    assert winner[b"<p>new</p>"] == "HTTP://s.com:80/a"  # original kept
    assert b"<p>b</p>" in winner


def test_files_ingest_filters_non_html_assets(spark, tmp_path):
    """Advice round 4: a real scraped dump carries images/css/js next to
    the pages — the default glob must keep them out of the pages rows at
    the scan (they'd flow into extraction as garbage html), while an
    explicit glob=None ingests everything."""
    import os

    from engine.sources import read_pages, read_pages_files

    d = tmp_path / "dump"
    os.makedirs(d / "assets")
    (d / "page.html").write_bytes(b"<p>page</p>")
    (d / "old.htm").write_bytes(b"<p>old</p>")
    (d / "LOUD.HTML").write_bytes(b"<p>iis</p>")
    (d / "x.xhtml").write_bytes(b"<p>x</p>")
    (d / "assets" / "logo.png").write_bytes(b"\x89PNG...")
    (d / "assets" / "site.css").write_bytes(b"body{}")
    (d / "app.js").write_bytes(b"x=1")

    names = lambda df: {os.path.basename(r["url"]) for r in df.collect()}
    assert names(read_pages_files(spark, str(d))) == {
        "page.html", "old.htm", "LOUD.HTML", "x.xhtml"
    }
    assert len(names(read_pages_files(spark, str(d), glob=None))) == 7
    # CLI plumbing: read_pages forwards the glob for fmt="files" only
    assert names(read_pages(spark, str(d), "files")) == {
        "page.html", "old.htm", "LOUD.HTML", "x.xhtml"
    }
    assert names(read_pages(spark, str(d), "files", files_glob="*.js")) == {
        "app.js"
    }
