"""Deterministic synthetic Common-Crawl-style corpus generator.

Produces the `pages(url, warc_ts, html, text, lang)` table demanded by
BASELINE.json input_hint — no external data. Generation is keyed purely on
(seed, doc index) via Mersenne-Twister `random.Random(seed*K + i)`, so the
corpus is identical regardless of partitioning, ordering, platform or scale
prefix (doc i at n=1000 equals doc i at n=500000). That determinism is what
makes the byte-identical golden invariant testable (SURVEY.md §6.2 item 6).

Distributed generation: `generate_pages(spark, n, partitions)` runs the
per-doc generator inside `mapInPandas` over `spark.range(n, numPartitions=
partitions)` — the driver never materialises the corpus, so the same code
path scales to arbitrarily large synthetic tables (FIXTURES.md §1 scales:
1e3 pytest / 5e4 sweep / 5e5+ bench).

Template classes per FIXTURES.md §1: boilerplate_heavy (+multilingual via the
lang mix), plain_minimal, link_farm, tables_lists, malformed, pdf_text,
empty_junk. Hosts follow Zipf(s=1.2) over 1000 hosts → hot-host skew for the
salting path. ~2% of urls get a second, later-warc_ts row (dedup fixture).
"""

from __future__ import annotations

import datetime as dt
import random
from bisect import bisect_left

SEED = 42
_K = 1_000_003  # per-doc seed stride
N_HOSTS = 1000
_EPOCH = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)

# Zipf(s=1.2) cumulative weights over host ranks 1..N_HOSTS.
_zw = [1.0 / (r**1.2) for r in range(1, N_HOSTS + 1)]
_tot = sum(_zw)
_ZIPF_CDF = []
_acc = 0.0
for _w in _zw:
    _acc += _w / _tot
    _ZIPF_CDF.append(_acc)
_ZIPF_CDF[-1] = 1.0

_LANGS = ["en", "de", "fr", "zh", "ar"]
_LANG_CDF = [0.70, 0.80, 0.90, 0.95, 1.0]

_SENTENCES = {
    "en": [
        "The printing press changed how knowledge moved through Europe.",
        "Early modern compositors set each page by hand, letter by letter.",
        "Paper quality varied wildly between print shops and decades.",
        "Scholars now mine these texts with statistical language models.",
        "A single folio could take a full day to typeset and proof.",
        "Ink bleed and worm damage complicate optical transcription.",
        "Marginalia often preserve readings lost from the main text.",
        "Catalogues disagree about the true date of many imprints.",
    ],
    "de": [
        "Die Druckerpresse veränderte die Verbreitung des Wissens grundlegend.",
        "Jede Seite wurde Buchstabe für Buchstabe von Hand gesetzt.",
        "Die Papierqualität schwankte stark zwischen den Werkstätten.",
        "Forscher analysieren diese Texte heute mit statistischen Modellen.",
        "Tintenfraß und Wurmlöcher erschweren die automatische Erkennung.",
    ],
    "fr": [
        "L'imprimerie a transformé la circulation du savoir en Europe.",
        "Chaque page était composée à la main, lettre par lettre.",
        "La qualité du papier variait énormément selon les ateliers.",
        "Les chercheurs exploitent ces textes avec des modèles statistiques.",
        "Les taches d'encre compliquent la transcription optique.",
    ],
    "zh": [
        "印刷术彻底改变了知识在欧洲的传播方式。",
        "早期的排字工人逐字逐句地手工排版每一页。",
        "不同印刷作坊之间的纸张质量差异很大。",
        "学者们如今使用统计语言模型挖掘这些文本。",
        "墨迹渗染和虫蛀损坏使光学转录变得复杂。",
    ],
    "ar": [
        "غيّرت المطبعة طريقة انتقال المعرفة في أوروبا تغييراً جذرياً.",
        "كان عمال الطباعة الأوائل يرصّون كل صفحة يدوياً حرفاً حرفاً.",
        "اختلفت جودة الورق اختلافاً كبيراً بين المطابع والعقود.",
        "يستخرج الباحثون اليوم هذه النصوص بنماذج لغوية إحصائية.",
        "يعقّد تسرّب الحبر وتلف الأوراق عملية النسخ الضوئي.",
    ],
}

_NAV_LINKS = ["Home", "Archive", "Catalogue", "Authors", "Presses", "About", "Contact"]
_FOOTER = (
    '<footer class="site-footer"><p>© 2026 Synthetic Crawl Co. '
    '<a href="/terms">Terms</a> <a href="/privacy">Privacy</a> '
    '<a href="/imprint">Imprint</a></p></footer>'
)
_COOKIE = (
    '<div class="cookie-banner"><p>We use cookies to improve your experience. '
    '<a href="/cookies">Learn more</a> <a href="#accept">Accept all</a></p></div>'
)


def _paragraphs(rng: random.Random, lang: str, k: int) -> list[str]:
    pool = _SENTENCES[lang]
    out = []
    for _ in range(k):
        ns = rng.randint(2, 4)
        out.append(" ".join(pool[rng.randrange(len(pool))] for _ in range(ns)))
    return out


def _nav(rng: random.Random) -> str:
    items = "".join(
        f'<li><a href="/{t.lower()}">{t}</a></li>' for t in _NAV_LINKS
    )
    return f'<nav class="main-nav"><ul>{items}</ul></nav>'


def _sidebar(rng: random.Random) -> str:
    links = "".join(
        f'<li><a href="/rel/{rng.randrange(9999)}">Related item {j}</a></li>'
        for j in range(1, rng.randint(5, 9))
    )
    return f'<aside class="sidebar related"><h3>Related</h3><ul>{links}</ul></aside>'


def _html_boilerplate_heavy(rng: random.Random, lang: str, i: int) -> tuple:
    paras = _paragraphs(rng, lang, rng.randint(3, 8))
    body = "".join(f"<p>{p}</p>" for p in paras)
    title = f"Document {i} — a study in type"
    expected = " ".join([title] + paras)
    return expected, (
        f'<!DOCTYPE html><html lang="{lang}"><head><title>{title}</title>'
        f'<meta charset="utf-8"><style>body{{margin:0}}</style>'
        f"<script>var x=1;</script></head><body>"
        f"{_COOKIE}<header class=\"masthead\"><h1>Synthetic Crawl Gazette</h1>"
        f"{_nav(rng)}</header>"
        f'<div class="layout"><div class="content-main"><article class="post">'
        f"<h2>{title}</h2>{body}</article></div>{_sidebar(rng)}</div>"
        f"{_FOOTER}</body></html>"
    )


def _html_plain_minimal(rng: random.Random, lang: str, i: int) -> tuple:
    paras = _paragraphs(rng, lang, rng.randint(2, 4))
    body = "".join(f"<p>{p}</p>" for p in paras)
    return " ".join(paras), f"<html><body>{body}</body></html>"


def _html_link_farm(rng: random.Random, lang: str, i: int) -> str:
    links = "".join(
        f'<p><a href="/x/{rng.randrange(99999)}">Link number {j} click here now</a></p>'
        for j in range(rng.randint(20, 40))
    )
    return "", (
        f"<html><head><title>Links {i}</title></head><body>"
        f'<div class="links">{links}</div>{_FOOTER}</body></html>'
    )


def _html_tables_lists(rng: random.Random, lang: str, i: int) -> tuple:
    pool = _SENTENCES[lang]
    cells = []
    rows = ""
    for j in range(rng.randint(4, 8)):
        s = pool[rng.randrange(len(pool))]
        cells.append(f"Entry {j} {s}")
        rows += f"<tr><td>Entry {j}</td><td>{s}</td></tr>"
    lis = [pool[rng.randrange(len(pool))] for _ in range(rng.randint(3, 6))]
    items = "".join(f"<li>{s}</li>" for s in lis)
    expected = " ".join([f"Register {i}"] + cells + lis)
    return expected, (
        f"<html><body>{_nav(rng)}"
        f'<div class="content"><h2>Register {i}</h2>'
        f"<table>{rows}</table><ul>{items}</ul></div>{_FOOTER}</body></html>"
    )


def _html_malformed(rng: random.Random, lang: str, i: int) -> tuple:
    paras = _paragraphs(rng, lang, 3)
    doc = (
        f'<html><head><meta charset="iso-8859-1"><body>'
        f"<p>{paras[0]}<div><p>{paras[1]} 3 < 5 stray"
        f"<p>{paras[2]}</span></body"
    )
    if rng.random() < 0.5:
        doc = doc[: max(40, int(len(doc) * rng.uniform(0.5, 0.9)))]  # truncate
    return None, doc  # truncation makes expected text undefined


def make_pdf(rng: random.Random, lang: str, i: int) -> bytes:
    """Minimal deterministic uncompressed PDF: text objects only, two columns
    on some docs to exercise the geometric reading-order sort."""
    pool = _SENTENCES["en"]  # keep PDF latin-1-safe
    lines = [f"Synthetic report {i}"] + [
        pool[rng.randrange(len(pool))] for _ in range(rng.randint(3, 6))
    ]
    two_col = rng.random() < 0.3
    parts = ["BT /F1 12 Tf"]
    y = 760
    for k, ln in enumerate(lines):
        esc = ln.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")
        x = 306 if (two_col and k % 2 == 1) else 72
        parts.append(f"1 0 0 1 {x} {y} Tm ({esc}) Tj")
        if not two_col or k % 2 == 1:
            y -= 20
    parts.append("ET")
    stream = "\n".join(parts)
    objs = [
        "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj",
        "2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj",
        "3 0 obj << /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        "/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >> endobj",
        f"4 0 obj << /Length {len(stream)} >> stream\n{stream}\nendstream endobj",
        "5 0 obj << /Type /Font /Subtype /Type1 /BaseFont /Helvetica >> endobj",
    ]
    body = "%PDF-1.4\n" + "\n".join(objs) + "\n%%EOF\n"
    return body.encode("latin-1")


def _junk(rng: random.Random) -> bytes:
    if rng.random() < 0.5:
        return b""
    return bytes(rng.randrange(256) for _ in range(rng.randint(16, 256)))


def gen_doc(i: int, seed: int = SEED) -> list[dict]:
    """All rows for doc index i (1 row, or 2 when the url is re-crawled)."""
    return gen_doc_with_expected(i, seed)[0]


def gen_doc_with_expected(i: int, seed: int = SEED) -> tuple:
    """(rows, expected_main_text) — expected is the ground-truth article
    text for evaluable HTML classes (None for pdf/junk/malformed), drawn
    from the SAME rng stream, enabling word-level precision/recall
    evaluation of the boilerplate classifier (tests/test_quality_eval.py)."""
    rng = random.Random(seed * _K + i)
    host_rank = bisect_left(_ZIPF_CDF, rng.random()) + 1
    host = f"host{host_rank:04d}.example.org"
    lang = _LANGS[bisect_left(_LANG_CDF, rng.random())]
    u = rng.random()
    expected = None
    if u < 0.01:
        payload = make_pdf(rng, lang, i)
        url = f"https://{host}/p/{i:08d}.pdf"
    else:
        if u < 0.03:
            expected, html = _html_malformed(rng, lang, i)
        elif u < 0.04:
            cls_bytes = _junk(rng)
            ts = _EPOCH + dt.timedelta(seconds=i * 37)
            return [
                {
                    "url": f"https://{host}/p/{i:08d}.bin",
                    "warc_ts": ts,
                    "html": cls_bytes,
                    "text": "",
                    "lang": lang,
                }
            ], None
        elif u < 0.09:
            expected, html = _html_link_farm(rng, lang, i)
        elif u < 0.14:
            expected, html = _html_tables_lists(rng, lang, i)
        elif u < 0.24:
            expected, html = _html_plain_minimal(rng, lang, i)
        else:
            expected, html = _html_boilerplate_heavy(rng, lang, i)
        payload = html.encode("utf-8")
        url = f"https://{host}/p/{i:08d}.html"
    ts = _EPOCH + dt.timedelta(seconds=i * 37)
    rows = [
        {"url": url, "warc_ts": ts, "html": payload, "text": "", "lang": lang}
    ]
    if rng.random() < 0.02:  # re-crawl: same url, later ts, same payload
        rows.append(
            {
                "url": url,
                "warc_ts": ts + dt.timedelta(days=1),
                "html": payload,
                "text": "",
                "lang": lang,
            }
        )
    return rows, expected


def generate_pages(spark, n_docs: int, partitions: int):
    """Distributed pages table: spark.range → mapInPandas(gen_doc).

    Scale-honest: per-doc work is independent and keyed on the global index,
    so this is embarrassingly parallel at any corpus size.
    """
    import pandas as pd

    from engine.schema import PAGES_SCHEMA

    def gen(batches):
        for pdf in batches:
            rows: list[dict] = []
            for i in pdf["id"]:
                rows.extend(gen_doc(int(i)))
            yield pd.DataFrame(
                rows, columns=["url", "warc_ts", "html", "text", "lang"]
            )

    return (
        spark.range(0, n_docs, numPartitions=partitions)
        .mapInPandas(gen, schema=PAGES_SCHEMA)
    )
