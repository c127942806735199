"""WARC/WET codec + Spark ingest for Common-Crawl-style archives.

The pages table (BASELINE.json input_hint) is the engine's native shape,
but at 10^12-document scale the data *arrives* as WARC (ISO 28500): the
reference's corpus class — Common-Crawl-style web pages (BASELINE.json:2)
— ships as ~1 GiB `.warc.gz` segment files whose per-record gzip members
are not splittable without an external index. The scale-correct ingest
therefore parallelizes on the FILE: Spark's `binaryFile` source yields
one row per segment, and ONE Arrow-batched `mapInPandas` pass parses
records into pages rows — scan → parse, zero shuffles (plan-pinned in
tests/test_warc.py). The reference ingests page payloads as JSON over
HTTP from a dashboard (emop/lib/emop_payload.py :: load_input [U]); WARC
is the from-scratch engine's equivalent wire format for its own corpus
class.

Two record types map onto the pages schema:
  response   (.warc) — url=WARC-Target-URI, warc_ts=WARC-Date,
                       html=HTTP response body bytes; text/lang NULL
  conversion (.wet)  — the pre-extracted-text sibling format:
                       text=payload utf-8, html NULL

Degradation follows the registry convention (SURVEY §9): malformed
records — bad version line, missing mandatory headers, unparseable
dates, truncated payloads — are EXCLUDED, never task failures; every
well-formed record around them still lands.

The codec half (build/iterate records) is pure Python so the writers,
the readers, and the tests share one definition of the format.
"""

from __future__ import annotations

import datetime as dt
import gzip
import hashlib
import io
from typing import Iterable, Iterator

_CRLF = b"\r\n"
_HDR_END = b"\r\n\r\n"
_GZIP_MAGIC = b"\x1f\x8b"


# --------------------------------------------------------------- codec: write
def _warc_date(ts: dt.datetime) -> str:
    return ts.strftime("%Y-%m-%dT%H:%M:%SZ")


def _record_id(url: str, ts: dt.datetime) -> str:
    """Deterministic WARC-Record-ID (uuid-shaped md5 of url+ts) so export
    output is byte-stable run to run — the same determinism contract as
    the synth corpus."""
    h = hashlib.md5(f"{url}|{_warc_date(ts)}".encode()).hexdigest()
    return (
        f"<urn:uuid:{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:32]}>"
    )


def build_record(rec_type: str, headers: dict[str, str], payload: bytes) -> bytes:
    """Serialize one WARC/1.0 record (header block + Content-Length-framed
    payload + the mandatory two-CRLF trailer)."""
    lines = [b"WARC/1.0"]
    lines.append(f"WARC-Type: {rec_type}".encode())
    for k, v in headers.items():
        lines.append(f"{k}: {v}".encode())
    lines.append(f"Content-Length: {len(payload)}".encode())
    return _CRLF.join(lines) + _HDR_END + payload + _HDR_END


def build_response_record(url: str, ts: dt.datetime, html: bytes) -> bytes:
    """A response record carrying an HTTP/1.1 envelope, the way crawlers
    (and Common Crawl) actually write page captures."""
    http = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
        + f"Content-Length: {len(html)}".encode()
        + _HDR_END
        + html
    )
    return build_record(
        "response",
        {
            "WARC-Target-URI": url,
            "WARC-Date": _warc_date(ts),
            "WARC-Record-ID": _record_id(url, ts),
            "Content-Type": "application/http; msgtype=response",
        },
        http,
    )


def build_conversion_record(url: str, ts: dt.datetime, text: str) -> bytes:
    """A WET-style conversion record (pre-extracted text payload)."""
    return build_record(
        "conversion",
        {
            "WARC-Target-URI": url,
            "WARC-Date": _warc_date(ts),
            "WARC-Record-ID": _record_id(url, ts),
            "Content-Type": "text/plain",
        },
        text.encode("utf-8"),
    )


def gzip_member(record: bytes) -> bytes:
    """One gzip member per record (the .warc.gz convention; mtime=0 keeps
    the bytes deterministic)."""
    return gzip.compress(record, mtime=0)


# ---------------------------------------------------------------- codec: read
def _inflate(buf: bytes) -> bytes:
    """Transparently inflate multi-member gzip (the .warc.gz layout),
    TOLERANTLY: a truncated final member yields its partial bytes (the
    half-record then falls off iter_records' Content-Length check), and a
    corrupt member drops itself plus the tail while every member before
    it still lands — degradation by exclusion, never a raised task
    failure (GzipFile would raise EOFError/zlib.error here and kill the
    whole segment's ingest on one bad byte)."""
    if buf[:2] != _GZIP_MAGIC:
        return buf
    import zlib

    out = []
    data = buf
    while data[:2] == _GZIP_MAGIC:
        d = zlib.decompressobj(wbits=31)
        try:
            chunk = d.decompress(data)
        except zlib.error:
            break  # corrupt member: keep everything before it
        out.append(chunk)
        if not d.eof:
            break  # truncated final member: partial bytes kept
        data = d.unused_data
    return b"".join(out)


def iter_records(buf: bytes) -> Iterator[tuple[dict[str, str], bytes]]:
    """Yield (headers lower-cased, payload) per record. Content-Length
    framing only — payloads may legally contain every delimiter, so
    scanning for separators would be wrong. On a malformed header block
    or a corrupt Content-Length the parser re-syncs at the next version
    line so well-formed records after the damage still land. Known
    trade-off: re-sync is BEST-EFFORT for plain .warc — after a framing
    corruption, payload bytes embedding a complete well-formed record (a
    crawled page documenting WARC itself) could commit as a phantom row;
    the alternative (stop at first damage) silently drops every record
    after one corrupt digit. The robust boundary for the production
    format is the GZIP layer: in .warc.gz (the Common-Crawl standard)
    each record is its own gzip member, and recovery at member
    boundaries cannot be steered by payload bytes. A payload truncated
    by the end of the file is dropped (the record never committed)."""
    buf = _inflate(buf)
    pos, n = 0, len(buf)
    while pos < n:
        while buf[pos : pos + 2] == _CRLF:
            pos += 2
        if pos >= n:
            return
        if not buf.startswith(b"WARC/", pos):
            nxt = buf.find(b"WARC/1.", pos + 1)  # re-sync past garbage
            if nxt < 0:
                return
            pos = nxt
        hdr_end = buf.find(_HDR_END, pos)
        if hdr_end < 0:
            return
        headers: dict[str, str] = {}
        ok = True
        for line in buf[pos:hdr_end].split(_CRLF)[1:]:
            k, sep, v = line.partition(b":")
            if not sep:
                ok = False
                break
            try:
                headers[k.decode("ascii").strip().lower()] = v.decode(
                    "utf-8", "replace"
                ).strip()
            except UnicodeDecodeError:
                ok = False
                break
        body_start = hdr_end + len(_HDR_END)
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            length = -1
        if length < 0:
            # unframed or negatively-framed record: a negative length
            # could move `pos` BACKWARDS (an infinite loop on a crafted
            # record) — re-sync at the next version line instead
            nxt = buf.find(b"WARC/1.", body_start)
            if nxt < 0:
                return
            pos = nxt
            continue
        if body_start + length > n:
            # overlong claim: either the file really is truncated (no
            # later version line — stop) or one record's Content-Length
            # is corrupt mid-segment (a later version line exists —
            # re-sync so every well-formed record after it still lands)
            nxt = buf.find(b"WARC/1.", body_start)
            if nxt < 0:
                return
            pos = nxt
            continue
        if ok:
            yield headers, buf[body_start : body_start + length]
        pos = body_start + length


def _parse_warc_date(s: str) -> dt.datetime | None:
    for fmt in ("%Y-%m-%dT%H:%M:%SZ", "%Y-%m-%dT%H:%M:%S.%fZ"):
        try:
            return dt.datetime.strptime(s, fmt)
        except ValueError:
            pass
    return None


def _http_body(payload: bytes) -> bytes:
    """Split the HTTP envelope off a response payload. A payload without
    an HTTP status line is taken as a bare body (some writers omit the
    envelope)."""
    if payload[:5] != b"HTTP/":
        return payload
    sep = payload.find(_HDR_END)
    return payload if sep < 0 else payload[sep + len(_HDR_END) :]


def pages_from_archive(buf: bytes) -> Iterator[dict]:
    """Decode one WARC/WET file's bytes into pages-table rows. Handles
    both record types in one pass, so mixed archives (and .wet files,
    which are just all-conversion WARCs) need no separate reader."""
    for headers, payload in iter_records(buf):
        rec_type = headers.get("warc-type")
        if rec_type not in ("response", "conversion"):
            continue  # warcinfo / request / metadata records
        url = headers.get("warc-target-uri")
        ts = _parse_warc_date(headers.get("warc-date", ""))
        if not url or ts is None:
            continue  # exclusion, not failure
        if rec_type == "response":
            yield {
                "url": url,
                "warc_ts": ts,
                "html": _http_body(payload),
                "text": None,
                "lang": None,
            }
        else:
            yield {
                "url": url,
                "warc_ts": ts,
                "html": None,
                "text": payload.decode("utf-8", "replace"),
                "lang": None,
            }


def valid_page(r: dict) -> bool:
    """A row is serializable iff it has a real url string and a real
    timestamp. `ts != ts` catches pandas NaT (which, NaN-like, compares
    unequal to itself and has no strftime) — the schema declares warc_ts
    non-nullable, but Spark does not enforce declared non-nullability on
    json/csv ingest, so nulls can reach the writer."""
    url, ts = r.get("url"), r.get("warc_ts")
    return isinstance(url, str) and ts is not None and ts == ts


def encode_pages(rows: Iterable[dict], wet: bool = False) -> bytes:
    """Serialize pages rows into one .warc.gz (or .wet.gz) file's bytes,
    one gzip member per record; rows failing `valid_page` are excluded
    (degenerate, not fatal)."""
    out = io.BytesIO()
    for r in rows:
        if not valid_page(r):
            continue
        if wet:
            text = r.get("text")
            rec = build_conversion_record(
                r["url"],
                r["warc_ts"],
                text if isinstance(text, str) else "",
            )
        else:
            # pandas nulls arrive as None or NaN (NaN is truthy!) — only
            # real bytes pass through
            html = r.get("html")
            rec = build_response_record(
                r["url"],
                r["warc_ts"],
                bytes(html) if isinstance(html, (bytes, bytearray)) else b"",
            )
        out.write(gzip_member(rec))
    return out.getvalue()
