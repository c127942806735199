"""Pure-Python main-content extractor core. Zero Spark imports.

Replaces the reference's per-page OCR/denoise chain
(emop/lib/processes/tesseract.py, denoise.py, page_evaluator.py [U]) with a
deterministic HTML boilerplate-strip pipeline plus a layout-aware PDF path:

  1. DOM tokenizer   — single pass over the decoded bytes producing a stream
                       of text blocks with word/anchor-word counts, node paths
                       and source-char offsets (the hOCR-DOM walk analog of
                       emop/lib/processes/xml_to_text.py + denoise.py [U]).
  2. Densitometric classifier — the published NumWordsRulesClassifier decision
                       rules from Kohlschütter, Fankhauser & Nejdl,
                       "Boilerplate Detection using Shallow Text Features"
                       (WSDM 2010, public paper): link-density + word-count
                       thresholds over (prev, curr, next) block triples.
  3. Readability-style node scoring — per-container score (comma count +
                       capped length bonus, link-density damped) used ONLY as
                       a tie-breaker to promote short blocks inside the
                       top-scoring container (BASELINE.json north_star).
  4. PDF branch      — selected by the %PDF- magic; parses uncompressed text
                       objects (BT..ET, Td/TD/Tm positioning, Tj/TJ shows)
                       and reassembles reading order by (y desc, x asc).

Determinism contract (byte-identical output per url — BASELINE.json:14):
  * decode is always UTF-8 with errors="replace" (PDF: latin-1, lossless);
  * whitespace inside a block collapses to single spaces; blocks join on \n;
  * no dict-iteration-order dependence anywhere; ties in container scoring
    break on smallest node path;
  * the extractor NEVER raises: malformed input yields a best-effort result
    or a (status='failed', error=...) record, mirroring the reference's
    continue-on-failure loop (emop/lib/emop_run.py [U]).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

# 1.1.0: malformed-anchor handling — self-closing <a/> no longer leaks
# link_depth, and an unclosed <a> closes implicitly at the next block-level
# close instead of marking the document tail as anchor text.
# 1.2.0: depth-tracked anchors — an anchor closes implicitly only when a
# BLOCK-LEVEL close pops the element stack below its opening depth: the
# valid HTML5 card pattern <a><div>…</div> tail</a> keeps its tail as
# anchor text, a mis-nested inline close (</span>) doesn't end the anchor
# (browser formatting reconstruction), and an unclosed <a> still cannot
# leak past its containing block's close.
# 1.2.1: a raw-text element's close tag is searched in the source itself,
# not in src.lower(), whose offsets ran one char ahead per 'İ' (U+0130)
# earlier in the document and could skip the text after the element.
# Output on the frozen golden corpus is byte-identical to 1.0.0 at every
# bump (verified doc-by-doc over all 2000 corpus docs).
EXTRACTOR_VERSION = "1.2.1"

# --------------------------------------------------------------------------
# HTML tokenizer
# --------------------------------------------------------------------------

_VOID_TAGS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)
_RAWTEXT_TAGS = frozenset(("script", "style", "textarea", "noscript"))
# the close-tag search of each raw-text element, case-insensitive in ASCII
# only and run on the source itself: offsets into src.lower() drift, since
# 'İ'.lower() is two code points
_RAW_CLOSE = {
    t: re.compile("</" + t, re.IGNORECASE | re.ASCII).search
    for t in _RAWTEXT_TAGS
}
# Opening/closing any of these flushes the current text block.
_BLOCK_TAGS = frozenset(
    (
        "address article aside blockquote body br caption dd div dl dt fieldset "
        "figcaption figure footer form h1 h2 h3 h4 h5 h6 head header hr html li "
        "main nav ol option p pre section select table tbody td tfoot th thead "
        "title tr ul"
    ).split()
)
# Text anywhere under these never counts as main content.
_IGNORE_SUBTREE_TAGS = frozenset("head nav header footer aside form select".split())
# class/id substrings — Readability-style hints (public readability.js heuristic).
_NEGATIVE_HINT = re.compile(
    r"nav|menu|footer|sidebar|side-bar|banner|advert|\bad\b|\bads\b|cookie|"
    r"breadcrumb|promo|related|share|social|comment",
    re.IGNORECASE,
)
_POSITIVE_HINT = re.compile(
    r"article|content|main|post|body|entry|text|story", re.IGNORECASE
)
_CONTAINER_TAGS = frozenset("div article section main blockquote body".split())
# Tags legal inside <head>; anything else implicitly closes an open head
# (browser-parser recovery — keeps unclosed-<head> malformed docs extractable).
_HEAD_ONLY_TAGS = frozenset(
    "title meta link base style script noscript template".split()
)

import html as _html_std


def _unescape(text: str) -> str:
    """Deterministic entity decode via the stdlib HTML5 table (complete
    named-entity coverage, tolerant of missing semicolons); '&'-free text
    short-circuits. Unknown entities pass through verbatim (html.unescape
    semantics)."""
    if "&" not in text:
        return text
    return _html_std.unescape(text)


_WS_RE = re.compile(r"\s+")
# One match per markup token, with the text run before it (g1). Then one of:
# g2 comment, g3 declaration/PI, g4+g5 close tag (name, end), g6+g7 open tag
# (name, attribute segment), g8 bare '<' (no tag name follows: it is text);
# or nothing at the end of the input. m.lastindex names the kind. An open
# tag ends at the first '>' outside quoted attribute values; an unclosed
# comment, quote or tag runs to the end of the input.
_TOKEN_RE = re.compile(
    r"([^<]+)?(?:<(?:"
    r"!--(?s:.*?)(-->|\Z)"
    r"|[!?][^>]*(>|\Z)"
    r"|/([a-zA-Z][a-zA-Z0-9:-]*)[^>]*(>|\Z)"
    r"|([a-zA-Z][a-zA-Z0-9:-]*)"
    r"""((?:[^>"']+|"[^"]*(?:"|\Z)|'[^']*(?:'|\Z))*+)(?:>|\Z)"""
    r"|()"
    r")|\Z)"
)
_ATTR_RE = re.compile(
    r"""([a-zA-Z_:][-a-zA-Z0-9_:.]*)\s*(?:=\s*("[^"]*"|'[^']*'|[^\s>]*))?"""
)


@dataclass(slots=True)
class Block:
    """One segment of running text between block-tag boundaries.

    A block that starts under an ignored element (head/nav/header/footer/
    aside/form/select) carries only `ignored`, `n_words` and
    `n_anchor_words`: it never reaches the text, the spans, the container
    scores or the page metrics, but the classifier still reads its word
    count and link density as the neighbour of a kept block. Its other
    fields keep their defaults.

    slots=True (r6): ~86k Block/_Elem instances per 3k documents sit on
    the tokenizer's hot path; slotted attribute access and construction
    measurably cut per-doc cost with zero behavior change."""

    node_path: str = ""
    n_words: int = 0
    n_anchor_words: int = 0
    words: list[str] = field(default_factory=list)
    start: int = -1  # char offset of first text run in the decoded source
    end: int = -1  # char offset past the last text run
    ignored: bool = False  # under nav/header/footer/aside/form/head
    neg_hint: bool = False  # ancestor class/id matches the negative regex
    pos_hint: bool = False
    container: str = ""  # node path of nearest container ancestor
    heading: bool = False  # emitted from inside h1..h6 or title
    content: bool = False  # classifier verdict (filled in phase 2)
    rejected_short: bool = False  # boiler verdict came from word-count rules only

    @property
    def link_density(self) -> float:
        return self.n_anchor_words / self.n_words if self.n_words else 0.0

    @property
    def text(self) -> str:
        return " ".join(self.words)


@dataclass(slots=True)
class _Elem:
    """An open element. Inside an ignored subtree only `tag` and `ignored`
    are read, so those entries leave the other fields empty."""

    tag: str
    path: str
    ignored: bool
    neg: bool
    pos: bool
    container: str
    heading: bool


# shared root state for an empty element stack (immutable by convention —
# avoids one _Elem allocation per text run outside any element)
_ROOT_ELEM = _Elem("", "", False, False, False, "", False)
_HEADING_TAGS = frozenset(("h1", "h2", "h3", "h4", "h5", "h6", "title"))


def _parse_attrs(raw: str) -> dict[str, str]:
    attrs: dict[str, str] = {}
    for m in _ATTR_RE.finditer(raw):
        name = m.group(1).lower()
        val = m.group(2) or ""
        if val[:1] in ('"', "'"):
            val = val[1:-1]
        if name not in attrs:
            attrs[name] = val
    return attrs


def _block(
    st: _Elem, words: list[str], n_words: int, n_anchor: int, start: int, end: int
) -> Block:
    """The finished text block that started under element `st`."""
    if st.ignored:
        return Block("", n_words, n_anchor, [], -1, -1, True)
    return Block(
        st.path or "html", n_words, n_anchor, words, start, end, False,
        st.neg, st.pos, st.container or "html", st.heading,
    )


def tokenize_blocks(src: str) -> tuple[list[Block], int]:
    """Single-pass tag scan → list of text Blocks. Returns (blocks, n_tags).

    Never raises on malformed markup: stray '<' becomes text, unclosed tags
    close implicitly at EOF, mismatched closes pop to the nearest match.

    Work the later phases never read is skipped: an element opened inside
    an ignored subtree pushes a tag-only stack entry (no node path, sibling
    counter, class/id hint, container or heading), and a block that starts
    there keeps word counts only (see Block).
    """
    n = len(src)
    n_tags = 0
    blocks: list[Block] = []
    stack: list[_Elem] = []
    # per-parent same-tag sibling counters for node paths like div[2]/p[1]
    child_counts: list[dict[str, int]] = [{}]
    # open anchors, each recorded as the element-stack depth at its <a>:
    # an anchor survives closes of elements opened INSIDE it (the HTML5
    # card pattern <a><div>…</div> more</a>) but closes implicitly when
    # the stack pops BELOW its depth (an unclosed <a> cannot leak past the
    # close of the element that contained it)
    anchor_opens: list[int] = []
    # stack depths of the open <head> elements, innermost last: a body-
    # content tag closes the innermost one without walking the stack
    head_opens: list[int] = []
    # the block being filled (none while n_words == 0): its word and anchor
    # word counts, the element it started in, and — unless that element is
    # ignored (keep False) — its words and first/last source offsets
    words: list[str] = []
    n_words = n_anchor = 0
    start = end = 0
    opened = _ROOT_ELEM
    keep = True
    # r6 hot-path bindings: one LOAD_FAST instead of a global/attribute
    # lookup per token
    _tokens = _TOKEN_RE.finditer
    _unesc = _html_std.unescape
    _VOID, _RAW, _BLOCK = _VOID_TAGS, _RAWTEXT_TAGS, _BLOCK_TAGS
    _HEADONLY, _IGNORE = _HEAD_ONLY_TAGS, _IGNORE_SUBTREE_TAGS

    resume = 0
    while True:
        # one C-level regex scan finds and classifies every token; it only
        # restarts after a raw-text element, whose content is skipped
        for m in _tokens(src, resume):
            run = m.group(1)
            if run is not None:
                # str.split() == \s+-split + strip + drop-empties, but in C;
                # most runs carry no entity
                run_words = (_unesc(run) if "&" in run else run).split()
                if run_words:
                    if not n_words:
                        opened = stack[-1] if stack else _ROOT_ELEM
                        keep = not opened.ignored
                        start = m.start()
                    n_words += len(run_words)
                    if anchor_opens:
                        n_anchor += len(run_words)
                    if keep:
                        words += run_words
                        end = m.end(1)
            li = m.lastindex
            if li == 7:  # open tag
                pass
            elif li == 5:  # close tag
                tag = m.group(4).lower()
                n_tags += 1
                if tag == "a":
                    if anchor_opens:
                        anchor_opens.pop()
                    continue
                if tag in _BLOCK and n_words:
                    blocks.append(_block(opened, words, n_words, n_anchor, start, end))
                    if keep:
                        words = []
                    n_words = n_anchor = 0
                # pop to nearest matching open tag (tolerates mis-nesting);
                # the well-nested case closes the top of the stack
                if stack and stack[-1].tag == tag:
                    stack.pop()
                    child_counts.pop()
                    if head_opens and head_opens[-1] == len(stack):
                        head_opens.pop()
                else:
                    for d in range(len(stack) - 2, -1, -1):
                        if stack[d].tag == tag:
                            del stack[d:]
                            del child_counts[d + 1 :]
                            while head_opens and head_opens[-1] >= d:
                                head_opens.pop()
                            break
                # implicit </a>, BLOCK closes only: an anchor opened at a
                # depth the pop removed is dead (an unclosed <a> must not
                # poison content after its containing block), while anchors
                # opened ABOVE the popped depth — the card pattern
                # <a><div>…</div> tail</a> — stay open. Inline closes
                # (</span>, </b>) never terminate an anchor: browsers
                # reconstruct formatting elements across them, so
                # '<span><a>x</span> y' keeps y as anchor text.
                if tag in _BLOCK:
                    while anchor_opens and anchor_opens[-1] > len(stack):
                        anchor_opens.pop()
                continue
            elif li == 8:  # bare '<' / '</' with no tag name: text
                if not n_words:
                    opened = stack[-1] if stack else _ROOT_ELEM
                    keep = not opened.ignored
                    start = m.end() - 1
                n_words += 1
                if anchor_opens:
                    n_anchor += 1
                if keep:
                    words.append("<")
                    end = m.end()
                continue
            else:  # comment / declaration; or the end of the input
                if li is not None and li != 1:
                    n_tags += 1
                continue
            tag = m.group(6).lower()
            attrs = m.group(7)
            # a bare tag (<p>) has no attribute segment: no self-close or
            # class/id check; otherwise no trailing-whitespace rstrip unless
            # the last char is whitespace
            if attrs:
                last = attrs[-1]
                self_close = last == "/" or (
                    last.isspace() and attrs.rstrip().endswith("/")
                )
            else:
                self_close = False
            n_tags += 1

            if tag in _BLOCK and n_words:
                blocks.append(_block(opened, words, n_words, n_anchor, start, end))
                if keep:
                    words = []
                n_words = n_anchor = 0
            if head_opens and tag not in _HEADONLY and tag != "html" and tag != "head":
                # implicit </head> on the first body-content tag (recovery)
                d = head_opens.pop()
                del stack[d:]
                del child_counts[d + 1 :]
                while anchor_opens and anchor_opens[-1] > d:
                    anchor_opens.pop()
            # void/self-closing check must precede the anchor-open record: a
            # self-closing <a/> has no matching </a>, so recording it would
            # leak an open anchor and classify the document tail as anchor
            # text
            if self_close or tag in _VOID:
                continue
            if tag == "a":
                anchor_opens.append(len(stack))
                continue
            if tag in _RAW:
                # skip raw content up to the matching close tag
                # (case-insensitive), then rescan from there
                close = _RAW_CLOSE[tag](src, m.end())
                if close is None:
                    resume = n
                else:
                    gt = src.find(">", close.start())
                    resume = n if gt == -1 else gt + 1
                n_tags += 1
                break

            st = stack[-1] if stack else _ROOT_ELEM
            if st.ignored or tag in _IGNORE:
                if tag == "head":
                    head_opens.append(len(stack))
                stack.append(_Elem(tag, "", True, False, False, "", False))
                child_counts.append({})
                continue
            counts = child_counts[-1]
            idx = counts.get(tag, 0) + 1
            counts[tag] = idx
            path = f"{st.path}/{tag}[{idx}]" if st.path else f"{tag}[{idx}]"
            neg, pos = st.neg, st.pos
            # attr parse only when a class/id hint can possibly be present
            if attrs and ("class" in attrs or "id" in attrs):
                parsed = _parse_attrs(attrs)
                hint_src = (
                    parsed.get("class", "") + " " + parsed.get("id", "")
                ).strip()
                neg = neg or bool(hint_src and _NEGATIVE_HINT.search(hint_src))
                pos = pos or bool(hint_src and _POSITIVE_HINT.search(hint_src))
            container = path if tag in _CONTAINER_TAGS else st.container
            heading = st.heading or tag in _HEADING_TAGS
            stack.append(_Elem(tag, path, False, neg, pos, container, heading))
            child_counts.append({})
        else:
            break

    if n_words:
        blocks.append(_block(opened, words, n_words, n_anchor, start, end))
    return blocks, n_tags


# --------------------------------------------------------------------------
# Phase 2: densitometric classification (Kohlschütter WSDM'10 rule set)
# --------------------------------------------------------------------------


def _classify_triple(prev: Block, curr: Block, nxt: Block) -> tuple[bool, bool]:
    """NumWordsRulesClassifier. Returns (is_content, rejected_by_short_rules).

    rejected_by_short_rules marks blocks dropped purely for being short in a
    low-link-density neighbourhood — the only category the Readability
    tie-break (phase 3) may later promote.
    """
    if curr.link_density > 0.333333:
        return False, False
    if prev.link_density <= 0.555556:
        if curr.n_words > 16 or nxt.n_words > 15 or prev.n_words > 4:
            return True, False
        return False, True
    if curr.n_words > 40 or nxt.n_words > 17:
        return True, False
    return False, True


_EMPTY_BLOCK = Block()


def classify_blocks(blocks: list[Block]) -> None:
    """Set .content/.rejected_short in place; apply structural overrides."""
    n = len(blocks)
    for k, b in enumerate(blocks):
        if b.ignored or b.neg_hint:
            # structural boilerplate: nav/header/footer/aside/form subtree or
            # negative class/id hint — overrides the density verdict.
            b.content = False
            b.rejected_short = False
            continue
        prev = blocks[k - 1] if k > 0 else _EMPTY_BLOCK
        nxt = blocks[k + 1] if k + 1 < n else _EMPTY_BLOCK
        b.content, b.rejected_short = _classify_triple(prev, b, nxt)
    # headline rule: a heading immediately before a content block is content.
    for k in range(n - 1):
        b = blocks[k]
        if (
            b.heading
            and not b.content
            and not b.ignored
            and not b.neg_hint
            and b.link_density <= 0.333333
            and blocks[k + 1].content
        ):
            b.content = True
            b.rejected_short = False


# --------------------------------------------------------------------------
# Phase 3: Readability-style container scoring (tie-breaker only)
# --------------------------------------------------------------------------


def score_containers(blocks: list[Block]) -> tuple[str, float]:
    """Score each container ancestor; return (best_container_path, score).

    Score per container = Σ over its non-ignored blocks of
      (1 + commas(text) + min(n_words // 20, 3)) * (1 - block link density)
    plus a +5 bonus if any ancestor hint was positive — the readability.js
    scoring shape (public), simplified and made deterministic.
    Ties break on the lexicographically smallest container path.
    """
    scores: dict[str, float] = {}
    pos_bonus: dict[str, bool] = {}
    for b in blocks:
        if b.ignored or b.neg_hint or not b.n_words:
            continue
        s = (1.0 + b.text.count(",") + min(b.n_words // 20, 3)) * (
            1.0 - b.link_density
        )
        scores[b.container] = scores.get(b.container, 0.0) + s
        if b.pos_hint:
            pos_bonus[b.container] = True
    if not scores:
        return "", 0.0
    best_path, best_score = "", -1.0
    for path in sorted(scores):
        s = scores[path] + (5.0 if pos_bonus.get(path) else 0.0)
        if s > best_score:
            best_path, best_score = path, s
    return best_path, best_score


def apply_tiebreak(blocks: list[Block], best_container: str) -> None:
    """Promote short-rejected blocks inside the winning container."""
    if not best_container:
        return
    for b in blocks:
        if (
            b.rejected_short
            and b.container == best_container
            and b.link_density <= 0.333333
        ):
            b.content = True


# --------------------------------------------------------------------------
# PDF branch (layout-aware parse of uncompressed text objects)
# --------------------------------------------------------------------------

_PDF_BT_RE = re.compile(r"\bBT\b(.*?)\bET\b", re.DOTALL)
_PDF_OP_RE = re.compile(
    r"(?P<tdx>-?[\d.]+)\s+(?P<tdy>-?[\d.]+)\s+(?P<tdop>Td|TD)"  # move (+leading for TD)
    r"|(?:(-?[\d.]+)\s+){4}(?P<tme>-?[\d.]+)\s+(?P<tmf>-?[\d.]+)\s+Tm"  # matrix e,f
    r"|(?P<tl>-?[\d.]+)\s+TL"  # set leading
    r"|(?P<tstar>T\*)"  # next line
    r"|\((?P<tj>(?:[^()\\]|\\.)*)\)\s*(?P<showop>Tj|')"  # show / next-line show
    r"|(?:-?[\d.]+\s+){2}\((?P<quote>(?:[^()\\]|\\.)*)\)\s*\""  # aw ac show
    r"|\[(?P<tjarr>(?:[^\]\\]|\\.)*)\]\s*TJ"  # array show
)
_PDF_STR_RE = re.compile(r"\(((?:[^()\\]|\\.)*)\)")
_PDF_ESCAPES = {"n": "\n", "r": "\r", "t": "\t", "b": "\b", "f": "\f",
                "(": "(", ")": ")", "\\": "\\"}


def _pdf_unescape(s: str) -> str:
    out: list[str] = []
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if c == "\\" and i + 1 < n:
            nxt = s[i + 1]
            if nxt in _PDF_ESCAPES:
                out.append(_PDF_ESCAPES[nxt])
                i += 2
                continue
            if nxt.isdigit():  # octal \ddd
                j = i + 1
                while j < min(i + 4, n) and s[j].isdigit():
                    j += 1
                try:
                    out.append(chr(int(s[i + 1 : j], 8) & 0xFF))
                except ValueError:
                    out.append(s[i + 1 : j])
                i = j
                continue
            i += 1
            continue
        out.append(c)
        i += 1
    return "".join(out)


def extract_pdf(data: bytes) -> dict:
    """Parse uncompressed PDF text objects; reading order = y desc, x asc.

    The layout-aware analog of the reference's MultiColumnSkew stage
    (emop/lib/processes/multi_column_skew.py [U]): text runs carry explicit
    page coordinates, so reassembly is a deterministic geometric sort.
    """
    src = data.decode("latin-1")  # lossless 1:1 byte↔char, offsets stable
    shows: list[tuple[float, float, int, str, int, int]] = []  # -y, x, seq, text
    seq = 0
    for bt in _PDF_BT_RE.finditer(src):
        x = y = 0.0
        leading = 0.0
        base = bt.start(1)

        def _show(txt: str, s: int, e: int) -> None:
            nonlocal seq
            if txt.strip():
                shows.append((-y, x, seq, txt, base + s, base + e))
                seq += 1

        for op in _PDF_OP_RE.finditer(bt.group(1)):
            if op.group("tdx") is not None:
                ty = float(op.group("tdy"))
                x += float(op.group("tdx"))
                y += ty
                if op.group("tdop") == "TD":  # TD also sets leading = -ty
                    leading = -ty
            elif op.group("tme") is not None:
                x, y = float(op.group("tme")), float(op.group("tmf"))
            elif op.group("tl") is not None:
                leading = float(op.group("tl"))
            elif op.group("tstar") is not None:
                y -= leading
            elif op.group("tj") is not None:
                if op.group("showop") == "'":  # ' = T* then show
                    y -= leading
                _show(_pdf_unescape(op.group("tj")), op.start("tj"), op.end("tj"))
            elif op.group("quote") is not None:  # " = aw ac T* show
                y -= leading
                _show(
                    _pdf_unescape(op.group("quote")),
                    op.start("quote"),
                    op.end("quote"),
                )
            elif op.group("tjarr") is not None:
                parts = [_pdf_unescape(m.group(1)) for m in
                         _PDF_STR_RE.finditer(op.group("tjarr"))]
                _show("".join(parts), op.start("tjarr"), op.end("tjarr"))
    if not shows:
        return _failed("pdf_no_text")
    shows.sort(key=lambda t: (t[0], t[1], t[2]))
    lines: list[list[tuple]] = []
    last_y: float | None = None
    for sh in shows:
        if last_y is None or abs(sh[0] - last_y) > 1e-6:
            lines.append([])
            last_y = sh[0]
        lines[-1].append(sh)
    out_lines: list[str] = []
    spans: list[dict] = []
    total_words = 0
    for k, line in enumerate(lines, start=1):
        txt = _WS_RE.sub(" ", " ".join(sh[3] for sh in line)).strip()
        if not txt:
            continue
        out_lines.append(txt)
        total_words += len(txt.split())
        spans.append(
            {
                "node_path": f"pdf/line[{k}]",
                "start": int(line[0][4]),
                "end": int(line[-1][5]),
            }
        )
    text = "\n".join(out_lines)
    return {
        "text": text,
        "spans": spans,
        "n_chars": len(text),
        "link_density": 0.0,
        "boiler_ratio": 0.0,
        "quality": min(total_words / 100.0, 1.0),
        "extractor_version": EXTRACTOR_VERSION,
        "status": "ok",
        "error": None,
    }


# --------------------------------------------------------------------------
# Entry point
# --------------------------------------------------------------------------


def _failed(err: str) -> dict:
    return {
        "text": None,
        "spans": None,
        "n_chars": 0,
        "link_density": 0.0,
        "boiler_ratio": 0.0,
        "quality": 0.0,
        "extractor_version": EXTRACTOR_VERSION,
        "status": "failed",
        "error": err,
    }


def extract_html(data: bytes) -> dict:
    src = data.decode("utf-8", errors="replace")
    blocks, n_tags = tokenize_blocks(src)
    if n_tags == 0:
        return _failed("not_html")
    classify_blocks(blocks)
    best_container, best_score = score_containers(blocks)
    apply_tiebreak(blocks, best_container)

    # one pass: ignored blocks are never content and feed no metric
    kept: list[Block] = []
    total_words = anchor_words = boiler_words = 0
    for b in blocks:
        if b.ignored:
            continue
        total_words += b.n_words
        anchor_words += b.n_anchor_words
        if b.content:
            kept.append(b)
        else:
            boiler_words += b.n_words
    text = "\n".join(b.text for b in kept)
    spans = [
        {"node_path": b.node_path, "start": b.start, "end": b.end} for b in kept
    ]
    return {
        "text": text,
        "spans": spans,
        "n_chars": len(text),
        "link_density": anchor_words / total_words if total_words else 0.0,
        "boiler_ratio": boiler_words / total_words if total_words else 0.0,
        "quality": best_score / (best_score + 10.0) if best_score > 0 else 0.0,
        "extractor_version": EXTRACTOR_VERSION,
        "status": "ok",
        "error": None,
    }


def extract_document(data: bytes | None) -> dict:
    """Dispatch on payload type; NEVER raises (continue-on-failure semantics,
    emop/lib/emop_run.py [U]: a failed page yields a failed result row and the
    batch continues)."""
    try:
        if data is None or len(data) == 0:
            return _failed("empty_input")
        if data[:5] == b"%PDF-":
            return extract_pdf(data)
        return extract_html(data)
    except Exception as exc:  # defensive: contract is "never raises"
        return _failed(f"internal:{type(exc).__name__}:{exc}")
