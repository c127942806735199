"""Pure-Python unit tests of the extractor core — no Spark session.

Models the reference's mocked unit-test strategy (SURVEY.md §6.1: nose+mock
over process wrappers [U: tests/]) but against real logic, not mocks.
"""

from __future__ import annotations

import random

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from engine.extract.core import (
    EXTRACTOR_VERSION,
    extract_document,
    extract_html,
    extract_pdf,
    tokenize_blocks,
)
from engine.synth import gen_doc, make_pdf


# ----------------------------------------------------------------- tokenizer
def test_tokenizer_basic_blocks_and_paths():
    src = "<html><body><p>one two three</p><p>four</p></body></html>"
    blocks, n_tags = tokenize_blocks(src)
    assert n_tags > 0
    assert [b.text for b in blocks] == ["one two three", "four"]
    assert blocks[0].node_path == "html[1]/body[1]/p[1]"
    assert blocks[1].node_path == "html[1]/body[1]/p[2]"
    # span offsets index the decoded source
    assert src[blocks[0].start : blocks[0].end] == "one two three"


def test_tokenizer_anchor_word_counting():
    src = '<body><p>plain <a href="/x">linked words here</a> tail</p></body>'
    blocks, _ = tokenize_blocks(src)
    (b,) = blocks
    assert b.n_words == 5
    assert b.n_anchor_words == 3
    assert 0 < b.link_density < 1


def test_tokenizer_self_closing_anchor_does_not_leak():
    """ADVICE(low): <a/> has no matching </a>; counting it as an open
    anchor marked every following word as anchor text (1.0.0 bug)."""
    src = '<body><p>see <a href="/x"/> alpha beta gamma delta</p></body>'
    blocks, _ = tokenize_blocks(src)
    (b,) = blocks
    assert b.n_words == 5
    assert b.n_anchor_words == 0


def test_tokenizer_card_anchor_spans_inner_block():
    """Valid HTML5 card pattern: an anchor wrapping a block element stays
    open across that element's close — the tail is still anchor text
    (code-review finding: the 1.1.0 blanket reset misclassified it)."""
    src = (
        '<body><p>intro words here</p><a href="/x"><div>Card title</div>'
        " view more</a><p>after</p></body>"
    )
    blocks, _ = tokenize_blocks(src)
    by_text = {b.text: b for b in blocks}
    assert by_text["Card title"].n_anchor_words == 2
    assert by_text["view more"].n_anchor_words == 2  # tail stays anchor
    assert by_text["after"].n_anchor_words == 0


def test_tokenizer_anchor_survives_inline_misnesting():
    """Mis-nested INLINE close (</span>) must not terminate an anchor —
    browsers reconstruct formatting elements across it, so the trailing
    words are still anchor text; only a block-level close ends an
    unclosed <a>."""
    src = (
        '<body><div><span><a href="/x">link</span> trailing words</div>'
        "<p>after block</p></body>"
    )
    blocks, _ = tokenize_blocks(src)
    (b1, b2) = blocks
    assert b1.n_anchor_words == 3  # 'link trailing words' all anchor
    assert b2.n_anchor_words == 0  # the </div> ended the unclosed anchor


def test_tokenizer_unclosed_anchor_closes_at_block_close():
    """Implicit </a>: an unclosed <a> dies when the stack pops below its
    opening depth, so it cannot poison content after its containing
    element."""
    src = (
        '<body><div>menu <a href="/x">link words</div>'
        "<p>real article content here</p></body>"
    )
    blocks, _ = tokenize_blocks(src)
    assert len(blocks) == 2
    assert blocks[0].n_anchor_words == 2  # inside the open anchor
    assert blocks[1].text == "real article content here"
    assert blocks[1].n_anchor_words == 0  # anchor closed with the div


def test_tokenizer_skips_script_style_head_comments():
    src = (
        "<html><head><title>T</title><style>p{}</style></head><body>"
        "<script>var a = '<p>not text</p>';</script><!-- <p>no</p> -->"
        "<p>real</p></body></html>"
    )
    blocks, _ = tokenize_blocks(src)
    visible = [b for b in blocks if not b.ignored]
    assert [b.text for b in visible] == ["real"]


def test_raw_text_skip_not_shifted_by_dotted_capital_i():
    """'İ'.lower() is two code points: a close-tag search in src.lower()
    landed one char further per 'İ' before the <script> and dropped the
    whole next paragraph (1.2.0 bug). The text must match the same page
    spelled with a plain 'I'."""
    first = (
        "İstanbul'da İlkbahar İzmir İzmit İnebolu İskenderun İpsala İnegöl "
        "İmralı İncesu İliç ve İdil ilçelerinde bu hafta hava güzel olacak "
        "ve yağmur beklenmiyor, dedi meteoroloji müdürlüğü sözcüsü."
    )
    second = (
        "İkinci paragraf betiğin hemen ardından gelir ve metnin tamamı "
        "korunmalıdır; çıkarıcı bu cümleleri asla atlamamalıdır, çünkü "
        "kapanış etiketi aramasının kayması yüzünden kaybolurlardı."
    )
    assert first.count("İ") == 12

    def page(a, b):
        return (
            f"<html><body><p>{a}</p><script>var t = 1;</script>"
            f"<p>{b}</p></body></html>"
        ).encode()

    got = extract_document(page(first, second))
    plain = extract_document(
        page(first.replace("İ", "I"), second.replace("İ", "I"))
    )
    assert second in got["text"]
    assert got["n_chars"] == plain["n_chars"]
    assert got["text"].replace("İ", "I") == plain["text"]


def test_tokenizer_unclosed_head_recovery():
    # browsers auto-close <head> at the first body-content tag
    src = "<html><head><meta charset=x><body><p>kept words</p>"
    blocks, _ = tokenize_blocks(src)
    kept = [b for b in blocks if not b.ignored]
    assert kept and kept[0].text == "kept words"


def _block_view(blocks):
    """What the later phases read of each block: an ignored block only
    feeds its word/anchor counts to its neighbours' verdicts."""
    return [
        ("ignored", b.n_words, b.n_anchor_words)
        if b.ignored
        else (b.node_path, b.text, b.start, b.end, b.container, b.heading,
              b.n_anchor_words)
        for b in blocks
    ]


@pytest.mark.parametrize(
    "nav_words, text",
    [
        (5, "short words\none, two, three, four and five"),
        (4, "one, two, three, four and five"),
    ],
)
def test_ignored_neighbour_word_count_decides_short_block(nav_words, text):
    """An ignored <nav> block still counts as the previous block of the
    classifier triple: more than 4 words keeps the 2-word paragraph after
    it; with 4 it is short-rejected, and the tie-break cannot promote it
    because the comma-rich second container wins the score."""
    nav = " ".join(["menu"] * nav_words)
    src = (
        f"<body><nav>{nav}</nav><div><p>short words</p></div>"
        "<div><p>one, two, three, four and five</p></div></body>"
    )
    blocks, _ = tokenize_blocks(src)
    assert _block_view(blocks)[0] == ("ignored", nav_words, 0)
    assert extract_document(src.encode())["text"] == text


@pytest.mark.parametrize(
    "src, expected",
    [
        # the first body tag closes only the innermost open head
        (
            "<html><head><head><title>T</title><p>one</p><p>two</p></html>",
            [("ignored", 1, 0), ("ignored", 1, 0),
             ("html[1]/p[1]", "two", 47, 50, "html", False, 0)],
        ),
        # an explicit </head> pops the inner one; <p> closes the outer
        (
            "<html><head><head></head><p>one</p><p>two</p></html>",
            [("html[1]/p[1]", "one", 28, 31, "html", False, 0),
             ("html[1]/p[2]", "two", 38, 41, "html", False, 0)],
        ),
        # a head opened inside <nav> closes, the nav stays open
        (
            "<body><nav><head><p>x y</p></nav><p>after words</p></body>",
            [("ignored", 2, 0),
             ("body[1]/p[1]", "after words", 36, 47, "body[1]", False, 0)],
        ),
        (
            "<div><nav>menu <head>x</nav> y <p>z</p></div>",
            [("ignored", 1, 0), ("ignored", 1, 0),
             ("div[1]", "y", 28, 31, "div[1]", False, 0),
             ("div[1]/p[1]", "z", 34, 35, "div[1]", False, 0)],
        ),
        # a self-closed <head/> opens nothing
        (
            "<html><head/><title>T</title><div><p>words here</p></div>",
            [("html[1]/title[1]", "T", 20, 21, "html", True, 0),
             ("html[1]/div[1]/p[1]", "words here", 37, 47, "html[1]/div[1]",
              False, 0)],
        ),
        # a mis-nested </div> pops the open head with it; nothing opened
        # later may be closed as if that head were still open
        (
            "<body><div><head></div><section><div><p>words</p></div>"
            "</section></body>",
            [("body[1]/section[1]/div[1]/p[1]", "words", 40, 45,
              "body[1]/section[1]/div[1]", False, 0)],
        ),
        # an anchor is body content: it closes the head
        (
            "<html><head><a href=x>lnk words</a><div><a>in</a> out</div>",
            [("html[1]", "lnk words", 22, 31, "html", False, 2),
             ("html[1]/div[1]", "in out", 43, 53, "html[1]/div[1]", False, 1)],
        ),
    ],
)
def test_tokenizer_head_recovery_cases(src, expected):
    blocks, _ = tokenize_blocks(src)
    assert _block_view(blocks) == expected


def test_tokenizer_stray_lt_is_text():
    blocks, _ = tokenize_blocks("<body><p>3 < 5 and < stray</p></body>")
    assert blocks[0].text == "3 < 5 and < stray"


def test_entities():
    # stdlib HTML5 semantics: full named table, nbsp -> U+00A0 (whitespace
    # for word splitting), unknown entities verbatim
    blocks, _ = tokenize_blocks(
        "<body><p>a &amp; b &lt;c&gt; &#65; &#x41; &unknown; &nbsp;x</p>"
        "<p>&mdash;&hellip;&copy;</p></body>"
    )
    assert [b.text for b in blocks] == [
        "a & b <c> A A &unknown; x",
        "\u2014\u2026\u00a9",
    ]


# ----------------------------------------------------------------- classifier
def test_boilerplate_heavy_strips_chrome():
    row = gen_doc(4)[0]  # frozen boilerplate_heavy_en fixture doc
    rec = extract_document(row["html"])
    assert rec["status"] == "ok"
    for chrome in ("Cookie", "cookies", "Privacy", "Imprint", "Related item",
                   "Synthetic Crawl Gazette", "Home"):
        assert chrome not in rec["text"]
    assert "Document 4" in rec["text"]  # headline kept
    assert rec["boiler_ratio"] > 0.1
    assert rec["extractor_version"] == EXTRACTOR_VERSION


def test_link_farm_rejected():
    row = gen_doc(5)[0]
    rec = extract_document(row["html"])
    assert rec["status"] == "ok"
    assert rec["text"] == ""
    assert rec["link_density"] > 0.8


def test_spans_index_into_source():
    row = gen_doc(4)[0]
    src = row["html"].decode("utf-8", errors="replace")
    rec = extract_document(row["html"])
    assert rec["spans"]
    for sp in rec["spans"]:
        assert 0 <= sp["start"] < sp["end"] <= len(src)
        frag = src[sp["start"] : sp["end"]]
        # first word of the span's block text appears in the source fragment
        assert rec["text"].split() and frag.strip()


# ----------------------------------------------------------------- pdf branch
def test_pdf_reading_order_two_columns():
    # two shows on one y line must join left→right; lines sort top→bottom
    pdf = (
        b"%PDF-1.4\nBT /F1 12 Tf\n"
        b"1 0 0 1 306 760 Tm (right) Tj\n"
        b"1 0 0 1 72 760 Tm (left) Tj\n"
        b"1 0 0 1 72 740 Tm (below) Tj\nET\n%%EOF"
    )
    rec = extract_pdf(pdf)
    assert rec["text"] == "left right\nbelow"
    assert rec["status"] == "ok"
    assert [s["node_path"] for s in rec["spans"]] == ["pdf/line[1]", "pdf/line[2]"]


def test_pdf_escapes_and_tj_array():
    pdf = b"BT 1 0 0 1 72 700 Tm [(a\\(b\\)) -250 (c)] TJ ET"
    rec = extract_pdf(b"%PDF-" + pdf)
    assert rec["text"] == "a(b)c"


def test_pdf_no_text_fails_cleanly():
    rec = extract_document(b"%PDF-1.4 nothing here")
    assert rec["status"] == "failed" and rec["error"] == "pdf_no_text"


def test_synth_pdf_roundtrip():
    pdf = make_pdf(random.Random(1), "en", 99)
    rec = extract_document(pdf)
    assert rec["status"] == "ok"
    assert rec["text"].startswith("Synthetic report 99")


# ----------------------------------------------------------------- dispatch
def test_empty_and_junk():
    assert extract_document(b"")["error"] == "empty_input"
    assert extract_document(None)["error"] == "empty_input"
    assert extract_document(b"\x00\x01\x02 no tags at all")["error"] == "not_html"


def test_determinism_same_input_same_output():
    for i in (0, 3, 5, 33, 66):
        row = gen_doc(i)[0]
        a = extract_document(row["html"])
        b = extract_document(row["html"])
        assert a == b


# ----------------------------------------------------------------- properties
@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=2048))
def test_never_raises_on_arbitrary_bytes(data):
    rec = extract_document(data)
    assert rec["status"] in ("ok", "failed")
    assert not (rec["status"] == "failed" and rec["error"] is None)


@settings(max_examples=100, deadline=None)
@given(st.text(max_size=1024))
def test_never_raises_on_arbitrary_html_text(txt):
    rec = extract_document(("<html><body>" + txt).encode("utf-8"))
    assert rec["status"] in ("ok", "failed")


@settings(max_examples=50, deadline=None)
@given(st.integers(min_value=0, max_value=200_000))
def test_synth_gen_doc_deterministic_and_extractable(i):
    rows1, rows2 = gen_doc(i), gen_doc(i)
    assert rows1 == rows2
    rec = extract_document(rows1[0]["html"])
    assert rec["status"] in ("ok", "failed")


def test_pdf_leading_operators():
    # TL + T* + ' and " next-line shows; TD sets leading
    pdf = (b"%PDF-1.4\nBT 20 TL 1 0 0 1 72 760 Tm (one) Tj "
           b"T* (two) Tj (three) ' ET")
    rec = extract_pdf(pdf)
    assert rec["text"] == "one\ntwo\nthree"
    pdf2 = b"%PDF-1.4\nBT 1 0 0 1 72 700 Td 0 -20 TD (a) Tj T* (b) Tj 3 2 (c) \" ET"
    rec2 = extract_pdf(pdf2)
    assert rec2["text"] == "a\nb\nc"


@settings(max_examples=150, deadline=None)
@given(st.binary(max_size=1024))
def test_pdf_branch_never_raises(data):
    rec = extract_document(b"%PDF-" + data)
    assert rec["status"] in ("ok", "failed")


@settings(max_examples=150, deadline=None)
@given(st.text(max_size=2048))
def test_spans_valid_on_arbitrary_html(txt):
    """Property: for ANY input that extracts ok, every span indexes into
    the decoded source (0 <= start < end <= len) and spans are ordered and
    non-overlapping — the lineage offsets must never dangle, whatever the
    markup looks like."""
    raw = ("<html><body><div>" + txt).encode("utf-8")
    rec = extract_document(raw)
    if rec["status"] != "ok":
        return
    src = raw.decode("utf-8", errors="replace")
    prev_end = 0
    for sp in rec["spans"]:
        assert 0 <= sp["start"] < sp["end"] <= len(src)
        assert sp["start"] >= prev_end
        prev_end = sp["end"]
        assert sp["node_path"]
