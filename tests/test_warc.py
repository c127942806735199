"""WARC/WET ingest (engine/warc.py + sources.read_pages_warc): the
Common-Crawl wire formats round-trip into the pages table byte-exactly,
malformed records degrade by exclusion, and the read plan is the
scale-correct one — a file-per-task binaryFile scan feeding ONE
mapInPandas parse with zero shuffles."""

from __future__ import annotations

import datetime as dt
import gzip

import pytest
from pyspark.sql import functions as F

from engine.extract.udf import run_extract
from engine.sources import export_pages_warc, read_pages, read_pages_warc
from engine.synth import generate_pages
from engine.warc import (
    build_conversion_record,
    build_record,
    build_response_record,
    encode_pages,
    gzip_member,
    pages_from_archive,
)

TS = dt.datetime(2026, 3, 1, 12, 0, 0)


@pytest.fixture(scope="module")
def pages(spark):
    return generate_pages(spark, 120, partitions=3).cache()


def _fingerprint(df):
    return {
        (r["url"], r["sha"], r["n"])
        for r in df.select(
            "url",
            F.sha2(F.coalesce(F.col("html"), F.lit(b"")), 256).alias("sha"),
            F.coalesce(F.length("html"), F.lit(0)).alias("n"),
        ).collect()
    }


# ------------------------------------------------------------------- codec
def test_codec_roundtrip_single_record():
    html = b"<html><body>caf\xc3\xa9 \x00 raw bytes \r\n\r\n inside</body>"
    rec = build_response_record("http://a.example/x", TS, html)
    rows = list(pages_from_archive(rec))
    assert len(rows) == 1
    r = rows[0]
    assert r["url"] == "http://a.example/x"
    assert r["warc_ts"] == TS
    # the payload legally contains the record delimiter — Content-Length
    # framing must carry it through intact
    assert r["html"] == html
    assert r["text"] is None and r["lang"] is None


def test_codec_gzip_multimember_and_wet():
    recs = [
        build_response_record(f"http://b.example/{i}", TS, b"<p>%d</p>" % i)
        for i in range(5)
    ]
    buf = b"".join(gzip_member(r) for r in recs)
    assert buf[:2] == b"\x1f\x8b"
    assert [r["url"] for r in pages_from_archive(buf)] == [
        f"http://b.example/{i}" for i in range(5)
    ]
    wet = build_conversion_record("http://b.example/t", TS, "café text")
    (row,) = pages_from_archive(wet)
    assert row["text"] == "café text" and row["html"] is None


def test_codec_skips_malformed_and_truncated():
    good1 = build_response_record("http://c.example/1", TS, b"<p>1</p>")
    good2 = build_response_record("http://c.example/2", TS, b"<p>2</p>")
    no_len = build_record(
        "response",
        {"WARC-Target-URI": "http://c.example/bad", "WARC-Date": "nope"},
        b"",
    ).replace(b"Content-Length: 0\r\n", b"")
    warcinfo = build_record("warcinfo", {}, b"software: synth\r\n")
    truncated = build_response_record(
        "http://c.example/3", TS, b"<p>3</p>" * 100
    )[:-40]
    buf = (
        b"garbage prefix bytes\r\n"
        + good1
        + no_len
        + warcinfo
        + good2
        + truncated
    )
    assert [r["url"] for r in pages_from_archive(buf)] == [
        "http://c.example/1",
        "http://c.example/2",
    ]


def test_codec_deterministic_bytes():
    rows = [
        {"url": "http://d.example/1", "warc_ts": TS, "html": b"<p>x</p>"},
        {"url": "http://d.example/2", "warc_ts": TS, "html": None},
    ]
    assert encode_pages(rows) == encode_pages(rows)
    # null html writes an empty body, not a dropped record
    back = list(pages_from_archive(encode_pages(rows)))
    assert [r["html"] for r in back] == [b"<p>x</p>", b""]


# ------------------------------------------------------------------- spark
def test_warc_roundtrip_binary_exact(spark, pages, tmp_path):
    p = str(tmp_path / "warc")
    manifest = export_pages_warc(pages, p)
    assert sum(m["n_records"] for m in manifest) == pages.count()
    assert all(m["file"].endswith(".warc.gz") for m in manifest)
    # atomic-segment protocol (advice round 4): tasks publish via
    # os.replace from attempt-unique temp names — none may survive
    import os

    assert not [f for f in os.listdir(p) if ".tmp-" in f]
    # and an ORPHAN temp from a killed attempt must be invisible to
    # re-ingest (dot-prefixed → skipped by Spark's file listing), not
    # read back as a corrupt/duplicate segment
    orphan = os.path.join(p, ".part-99999.warc.gz.tmp-123")
    with open(orphan, "wb") as f:
        f.write(b"\x1f\x8b truncated-garbage")
    assert read_pages_warc(spark, p).count() == pages.count()
    os.remove(orphan)
    back = read_pages_warc(spark, p)
    assert _fingerprint(back) == _fingerprint(pages)
    # and the re-ingested table extracts identically
    a = run_extract(pages).select("url", "n_chars", "status")
    b = run_extract(back).select("url", "n_chars", "status")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_warc_roundtrip_uncompressed(spark, pages, tmp_path):
    """Plain .warc segments (each exported segment with its gzip members
    inflated) ingest like the .warc.gz ones."""
    import pathlib

    plain = tmp_path / "warc_plain"
    plain.mkdir()
    for m in export_pages_warc(pages, str(tmp_path / "warc_gz")):
        seg = pathlib.Path(m["file"])
        (plain / seg.stem).write_bytes(gzip.decompress(seg.read_bytes()))
    assert {f.suffix for f in plain.iterdir()} == {".warc"}
    assert _fingerprint(read_pages(spark, str(plain), "warc")) == _fingerprint(pages)


def test_wet_roundtrip_text(spark, pages, tmp_path):
    src = pages.select(
        "url", "warc_ts", F.lit(None).cast("binary").alias("html"),
        F.concat(F.lit("text of "), "url").alias("text"), "lang",
    )
    p = str(tmp_path / "wet")
    export_pages_warc(src, p, wet=True)
    back = read_pages(spark, p, "wet")
    got = {(r["url"], r["text"]) for r in back.collect()}
    want = {(r["url"], r["text"]) for r in src.collect()}
    assert got == want
    assert back.where(F.col("html").isNotNull()).count() == 0


def test_warc_read_plan_scan_parse_no_shuffle(spark, pages, tmp_path):
    """The 100 TB shape: binaryFile scan → one MapInPandas, no Exchange —
    parallelism comes from the file count, not a shuffle."""
    p = str(tmp_path / "warc_plan")
    export_pages_warc(pages, p)
    plan = read_pages_warc(spark, p)._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert "Exchange" not in plan


def test_read_pages_rejects_unknown_format(spark):
    with pytest.raises(ValueError, match="unknown pages format"):
        read_pages(spark, "/nowhere", "avro")


# -------------------------------------------------------------- property
from hypothesis import given, settings
from hypothesis import strategies as st

_url_st = st.text(
    st.characters(min_codepoint=33, max_codepoint=126), min_size=1, max_size=40
).map(lambda s: "http://h.example/" + s)
_page_st = st.fixed_dictionaries(
    {
        "url": _url_st,
        "warc_ts": st.datetimes(
            min_value=dt.datetime(1990, 1, 1),
            max_value=dt.datetime(2100, 1, 1),
        ).map(lambda t: t.replace(microsecond=0)),
        "html": st.one_of(st.none(), st.binary(max_size=400)),
    }
)


@settings(max_examples=60, deadline=None)
@given(st.lists(_page_st, max_size=8), st.booleans())
def test_codec_property_roundtrip(rows, compress):
    """Any payload bytes (including record delimiters, gzip magic, header
    look-alikes) and any second-precision timestamp survive encode→decode;
    record count and order are preserved; null html reads back as b''."""
    buf = encode_pages(rows)
    if not compress:
        buf = gzip.decompress(buf)  # a plain .warc: the members inflated
    back = list(pages_from_archive(buf))
    assert [(r["url"], r["warc_ts"]) for r in back] == [
        (r["url"], r["warc_ts"]) for r in rows
    ]
    assert [r["html"] for r in back] == [r["html"] or b"" for r in rows]


@settings(max_examples=40, deadline=None)
@given(st.binary(max_size=300), st.integers(0, 3))
def test_codec_property_garbage_between_records(garbage, n_good):
    """Arbitrary inter-record garbage never aborts the stream NOR corrupts
    a well-formed record that follows (re-sync finds the next version
    line). Records whose payload the garbage could imitate are immune:
    framing is Content-Length, not delimiter-scan."""
    recs = [
        build_response_record(f"http://g.example/{i}", TS, b"<p>%d</p>" % i)
        for i in range(n_good)
    ]
    buf = garbage + b"\r\n" + b"".join(recs)
    got = [r["url"] for r in pages_from_archive(buf)]
    # garbage may legally CONTAIN a parseable record prefix only if it
    # embeds a full valid record — with random bytes that never happens;
    # all n_good real records must survive
    assert got[-n_good:] == [f"http://g.example/{i}" for i in range(n_good)] if n_good else got == []


def test_export_run_wet_full_cc_loop(spark, pages, tmp_path):
    """The whole Common-Crawl lifecycle: WARC segments in → extract job →
    WET conversion records out; re-ingesting the WET yields the run's
    extracted text byte-exactly (url → text equality vs read_extracted)."""
    from engine.jobs.extract_job import (
        enqueue,
        export_run,
        read_extracted,
        run_extract_job,
    )

    wdir = str(tmp_path / "in_warc")
    export_pages_warc(pages, wdir)
    ingested = read_pages_warc(spark, wdir)
    root = str(tmp_path / "runs")
    man = enqueue(spark, ingested, root, run_id="wetloop")
    run_extract_job(spark, ingested, man, wave_size=8)

    dest = str(tmp_path / "out_wet")
    res = export_run(spark, man, dest, fmt="wet")
    assert res["format"] == "wet" and res["segments"] >= 1

    back = read_pages_warc(spark, dest)
    got = {(r["url"], r["text"]) for r in back.collect()}
    want = {
        (r["url"], r["text"] if r["text"] is not None else "")
        for r in read_extracted(spark, man).select("url", "text").collect()
    }
    assert res["rows"] == len(want)
    assert got == want


def test_codec_negative_content_length_terminates():
    """Review finding: a negative Content-Length matching the header size
    moved `pos` backwards — an infinite yield loop. Must re-sync instead,
    committing nothing for the crafted record and every well-formed
    record around it."""
    good = build_response_record("http://n.example/ok", TS, b"<p>ok</p>")
    evil = build_record(
        "response",
        {"WARC-Target-URI": "http://n.example/evil",
         "WARC-Date": "2026-03-01T12:00:00Z"},
        b"",
    ).replace(b"Content-Length: 0", b"Content-Length: -116")
    for buf in (evil, evil + good, good + evil + good):
        urls = [r["url"] for r in pages_from_archive(buf)]  # must terminate
        assert "http://n.example/evil" not in urls
    assert [r["url"] for r in pages_from_archive(good + evil + good)] == [
        "http://n.example/ok", "http://n.example/ok"
    ]


def test_codec_truncated_and_corrupt_gzip_degrade():
    """Review finding: GzipFile raised EOFError/zlib.error on a truncated
    or bit-flipped .warc.gz — one bad segment byte killed the whole ingest
    task. Every complete member before the damage must still land."""
    recs = [
        build_response_record(f"http://z.example/{i}", TS, b"<p>%d</p>" % i)
        for i in range(4)
    ]
    members = [gzip_member(r) for r in recs]
    whole = b"".join(members)
    # truncation mid-final-member: first three records survive
    cut = whole[: sum(len(m) for m in members[:3]) + 10]
    assert [r["url"] for r in pages_from_archive(cut)] == [
        f"http://z.example/{i}" for i in range(3)
    ]
    # bit flip inside member 2's deflate stream: members 0-1 survive
    flip = bytearray(whole)
    flip[len(members[0]) + len(members[1]) + 20] ^= 0xFF
    got = [r["url"] for r in pages_from_archive(bytes(flip))]
    assert got[:2] == ["http://z.example/0", "http://z.example/1"]
    assert "http://z.example/2" not in got


def test_codec_excludes_null_url_and_nat_ts():
    """Review finding: a pandas NaT warc_ts crashed encode_pages (NaT has
    no strftime) and a null url serialized as the string 'None'. Both are
    degenerate rows: excluded, counted out of the manifest."""
    import pandas as pd

    rows = [
        {"url": "http://v.example/ok", "warc_ts": TS, "html": b"x"},
        {"url": None, "warc_ts": TS, "html": b"x"},
        {"url": "http://v.example/nat", "warc_ts": pd.NaT, "html": b"x"},
    ]
    back = list(pages_from_archive(encode_pages(rows)))
    assert [r["url"] for r in back] == ["http://v.example/ok"]


def test_export_overwrites_stale_segments(spark, pages, tmp_path):
    """Review finding: re-exporting into the same dest with fewer
    partitions left stale part-NNNNN segments from the previous export —
    dest must be cleared first, like every other export format."""
    import os

    p = str(tmp_path / "re_export")
    export_pages_warc(pages, p)  # 3 partitions → 3 segments
    manifest = export_pages_warc(pages.coalesce(1), p)
    assert len(manifest) == 1
    assert len(os.listdir(p)) == 1
    assert _fingerprint(read_pages_warc(spark, p)) == _fingerprint(pages)


def test_codec_overlong_length_resyncs_midsegment():
    """Review finding: one corrupt digit in a mid-segment Content-Length
    (overlong claim) dropped every record after it. If a later version
    line exists the parser must re-sync; a truly truncated tail still
    stops cleanly."""
    good1 = build_response_record("http://o.example/1", TS, b"<p>1</p>")
    bad = build_record(
        "response",
        {"WARC-Target-URI": "http://o.example/bad",
         "WARC-Date": "2026-03-01T12:00:00Z"},
        b"<p>2</p>",
    ).replace(b"Content-Length: 8", b"Content-Length: 9116", 1)
    good2 = build_response_record("http://o.example/3", TS, b"<p>3</p>")
    assert [r["url"] for r in pages_from_archive(good1 + bad + good2)] == [
        "http://o.example/1",
        "http://o.example/3",
    ]
    # overlong claim at the END = real truncation: stop, no false records
    assert [r["url"] for r in pages_from_archive(good1 + bad)] == [
        "http://o.example/1"
    ]
