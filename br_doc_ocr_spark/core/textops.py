"""Main-content extraction over raw turn payloads (HTML / pseudo-PDF / prose).

This is the graft analog of the reference's per-image preprocessing stack
(``/root/reference/src/br_doc_ocr/services/preprocessing.py:25-357`` — load,
normalize, orient, crop): instead of pixels we normalize *text payloads*:

- HTML boilerplate stripping via DOM heuristics (text density, link density,
  tag-path boilerplate classes — the Readability/jusText family of rules,
  public literature: Kohlschütter et al. 2010 "Boilerplate Detection using
  Shallow Text Features").
- pseudo-PDF layout reconstruction: line records ``[x0,y0,x1,y1] text`` are
  clustered into columns by x-gap and re-serialized in reading order
  (column-major, then top-to-bottom) — the analog of
  ``preprocessing.py:204-325`` (detect/crop/reorder regions).
- prose passes through trimmed.

Everything here is deterministic, pure stdlib (regex tokenizer), and shared
between the Spark Arrow UDF and the golden oracle.
"""

from __future__ import annotations

import re
from html import unescape as _unescape

# ---------------------------------------------------------------------------
# Payload kind detection
# ---------------------------------------------------------------------------

_PDF_LINE = re.compile(
    r"^\[\s*(-?\d+(?:\.\d+)?),\s*(-?\d+(?:\.\d+)?),\s*(-?\d+(?:\.\d+)?),\s*(-?\d+(?:\.\d+)?)\s*\]\s?(.*)$"
)
_HTML_HINT = re.compile(r"<(?:html|body|div|p|nav|footer|header|span|a|ul|table)\b", re.IGNORECASE)

KIND_HTML = "html"
KIND_PDF = "pdf"
KIND_PROSE = "prose"


def detect_payload_kind(text: str) -> str:
    """Classify a payload as html / pdf / prose.

    Graft analog of the reference's document-type classification entry point
    (``services/classification.py:44-120``) with a deterministic rule: a
    payload is ``pdf`` when its first non-empty line is a bbox record, ``html``
    when an HTML tag hint appears, else ``prose``.
    """
    if not text:
        return KIND_PROSE
    for line in text.splitlines():
        s = line.strip()
        if not s:
            continue
        if _PDF_LINE.match(s):
            return KIND_PDF
        break
    if _HTML_HINT.search(text):
        return KIND_HTML
    return KIND_PROSE


# ---------------------------------------------------------------------------
# HTML boilerplate stripping
# ---------------------------------------------------------------------------

# Subtrees that are boilerplate by construction.
_BOILERPLATE_TAGS = frozenset({
    "nav", "header", "footer", "aside", "script", "style", "noscript",
    "form", "button", "iframe", "svg", "template",
})
# id/class tokens that mark boilerplate containers.
_BOILERPLATE_HINTS = frozenset({
    "nav", "navbar", "menu", "sidebar", "footer", "header", "ad", "ads",
    "advert", "banner", "cookie", "popup", "social", "share", "comment",
    "comments", "breadcrumb", "pagination", "related", "promo", "widget",
})
# Elements that delimit text blocks.
_BLOCK_TAGS = frozenset({
    "p", "div", "section", "article", "main", "li", "td", "th", "blockquote",
    "pre", "h1", "h2", "h3", "h4", "h5", "h6", "tr", "ul", "ol", "table",
    "body", "html", "br",
})

_WS = re.compile(r"\s+")
_HINT_SPLIT = re.compile(r"[\s_\-]+")

# Fast-path tokenizer: comments / doctype+PI / end tag / start tag / text run.
# Raw-text elements (script/style) are skipped wholesale by a find() on the
# closing tag — their content never reaches the text stream.
_TOKEN = re.compile(
    r"<!--.*?-->"
    r"|<![^>]*>"
    r"|<\?[^>]*>"
    r"|</\s*([a-zA-Z][a-zA-Z0-9]*)\s*>"
    # attrs are LAZY so a trailing '/' reaches the self-closing group: the
    # greedy form swallowed it into attrs, making group(4) always empty —
    # '<a/>' then elevated link depth forever and every later block was
    # dropped as link-dominated (XHTML/void syntax is common in real HTML).
    # An unquoted attr VALUE ending in '/' ('<a href=x/>') now also reads
    # as self-closing — a deterministic trade this non-browser parser
    # accepts.
    r"|<([a-zA-Z][a-zA-Z0-9]*)((?:[^>\"']|\"[^\"]*\"|'[^']*')*?)(/?)>",
    re.DOTALL,
)
_ATTR_HINT = re.compile(
    r"""(?:\b(?:id|class|role)\s*=\s*)("([^"]*)"|'([^']*)'|([^\s>]+))""")
_RAW_TEXT_TAGS = frozenset({"script", "style", "noscript", "template"})
# case-insensitive close-tag finders for the raw-text skip (start tags match
# any case, so '</SCRIPT>' must too — a case-sensitive find() truncated the
# whole rest of the document on uppercase legacy HTML)
_RAW_CLOSE = {t: re.compile(f"</{t}", re.IGNORECASE) for t in _RAW_TEXT_TAGS}


# Scoring thresholds (Kohlschütter-style shallow features, tuned for
# determinism not ML parity): a block is content when it is outside any
# boilerplate subtree, long enough, and not link-dominated.
MIN_BLOCK_CHARS = 12
MAX_LINK_SHARE = 0.5


class _BlockCollector:
    """Stream HTML into the kept content blocks: text outside boilerplate
    subtrees, scored on the shallow features (length, link-text share).

    Implemented as a single-regex tokenizer (≈5× faster than stdlib
    ``html.parser`` per profile) with the same block semantics: flush on block
    boundaries AND on boiler-state changes so every buffered segment carries a
    uniform boilerplate attribution; raw-text elements (script/style) are
    skipped wholesale. Text inside a boilerplate subtree is never buffered
    (only its tags are tracked), so the buffer is empty whenever
    ``_boiler_depth > 0`` and every block ``_flush`` scores is content.
    """

    __slots__ = ("blocks", "_buf", "_link_chars", "_boiler_depth",
                 "_link_depth", "_stack")

    def __init__(self) -> None:
        self.blocks: list[str] = []
        self._buf: list[str] = []
        self._link_chars = 0
        self._boiler_depth = 0
        self._link_depth = 0
        self._stack: list[tuple[str, bool]] = []  # (tag, is_boiler)

    @staticmethod
    def _is_boiler(tag: str, attrs: str) -> bool:
        if tag in _BOILERPLATE_TAGS:
            return True
        if attrs and ("id" in attrs or "class" in attrs or "role" in attrs):
            for m in _ATTR_HINT.finditer(attrs):
                value = m.group(2) or m.group(3) or m.group(4) or ""
                for token in _HINT_SPLIT.split(value.lower()):
                    if token in _BOILERPLATE_HINTS:
                        return True
        return False

    def _flush(self) -> None:
        if not self._buf:
            # nothing buffered ⇒ no data since the last flush (every text
            # run appends), so _link_chars is already 0 — safe fast path
            # (~70% of flush calls are empty-buffer block boundaries, and
            # every flush inside a boilerplate subtree).
            return
        raw = "".join(self._buf)
        # str.strip() and the \s regex class agree on every Unicode
        # codepoint (verified exhaustively), so stripping BEFORE the
        # whitespace-collapse sub yields the same text as sub-then-strip
        # while reusing the stripped string for the link-share denominator.
        stripped = raw.strip()
        text = _WS.sub(" ", stripped)
        self._buf.clear()
        link_chars = min(self._link_chars, len(raw))
        self._link_chars = 0
        if (len(text) >= MIN_BLOCK_CHARS
                and link_chars / max(len(stripped), 1) < MAX_LINK_SHARE):
            self.blocks.append(text)

    def _start(self, tag: str, attrs: str) -> None:
        boiler = self._is_boiler(tag, attrs)
        if tag in _BLOCK_TAGS or boiler:
            self._flush()
        self._stack.append((tag, boiler))
        if boiler:
            self._boiler_depth += 1
        if tag == "a":
            self._link_depth += 1

    def _end(self, tag: str) -> None:
        stack = self._stack
        if stack and stack[-1][0] == tag:  # well-formed fast path
            boiler = stack[-1][1]
            if boiler or tag in _BLOCK_TAGS:
                self._flush()
            stack.pop()
            if boiler:
                self._boiler_depth -= 1
        else:
            for i in range(len(stack) - 1, -1, -1):
                t, boiler = stack[i]
                if t == tag:
                    # implicit-close unwind (HTML5 behavior): everything
                    # ABOVE the matched element closes with it. Popping only
                    # the matched entry left an unclosed boilerplate child's
                    # _boiler_depth elevated forever — '<div><nav>x</div>'
                    # then marked the whole remaining document boilerplate.
                    popped = stack[i:]
                    if (tag in _BLOCK_TAGS
                            or any(b for _, b in popped)
                            or any(t2 in _BLOCK_TAGS for t2, _ in popped)):
                        self._flush()
                    del stack[i:]
                    for j, (t2, b) in enumerate(popped):
                        if b:
                            self._boiler_depth -= 1
                        # implicitly-closed anchors release link depth too;
                        # j == 0 is the matched element itself, which the
                        # tag == "a" case below already handles
                        if t2 == "a" and j > 0 and self._link_depth > 0:
                            self._link_depth -= 1
                    break
        if tag == "a" and self._link_depth > 0:
            self._link_depth -= 1

    def feed(self, doc: str) -> None:
        # Hot loop with the text-run handling and the common _start/_end
        # cases inlined: per-tag method dispatch was ~30% of the HTML path
        # at the corpus' ~20 tags/document (685-byte docs). Semantics
        # identical — the uncommon branches (boiler subtrees,
        # malformed-nesting unwind) still delegate to _start/_end, which
        # remain the single source of truth for those paths; text handling
        # (unescape + buffer + link-char tally) lives ONLY in this loop.
        pos = 0
        n = len(doc)
        find = doc.find
        token_match = _TOKEN.match
        buf_append = self._buf.append
        stack = self._stack
        is_boiler = self._is_boiler
        start = self._start
        end = self._end
        block_tags = _BLOCK_TAGS
        while pos < n:
            lt = find("<", pos)
            if lt == -1:
                lt = n
            # text inside a boilerplate subtree is dropped unread
            if lt > pos and not self._boiler_depth:
                seg = doc[pos:lt]
                if "&" in seg:
                    seg = _unescape(seg)
                buf_append(seg)
                if self._link_depth > 0:
                    self._link_chars += len(seg.strip())
            if lt == n:
                break
            m = token_match(doc, lt)
            if m is None:
                if not self._boiler_depth:
                    buf_append("<")  # stray '<' is text
                    if self._link_depth > 0:
                        self._link_chars += 1
                pos = lt + 1
                continue
            end_tag, start_tag = m.group(1), m.group(2)
            pos = m.end()
            if start_tag:
                tag = start_tag.lower()
                if tag in _RAW_TEXT_TAGS and not m.group(4):
                    cm = _RAW_CLOSE[tag].search(doc, pos)
                    # raw content skipped entirely (never text)
                    if cm is None:
                        break
                    gt = find(">", cm.start())
                    pos = n if gt == -1 else gt + 1
                    continue
                attrs = m.group(3)
                # inline of _start's non-boiler common case; the cheap
                # anchor check runs BEFORE is_boiler so attributed <a> tags
                # don't pay the attr-hint scan twice (once here, once in
                # the delegated _start)
                if tag != "a" and not (attrs and is_boiler(tag, attrs)):
                    if tag in block_tags:
                        self._flush()
                    if tag in _BOILERPLATE_TAGS:  # attr-less boiler tag
                        start(tag, attrs)
                    else:
                        stack.append((tag, False))
                else:
                    start(tag, attrs)
                if m.group(4):  # self-closing
                    end(tag)
            elif end_tag:
                tag = end_tag.lower()
                # inline of _end's well-formed, non-boiler fast path
                if stack and stack[-1][0] == tag and not stack[-1][1]:
                    if tag in block_tags:
                        self._flush()
                    stack.pop()
                    if tag == "a" and self._link_depth > 0:
                        self._link_depth -= 1
                else:
                    end(tag)
            # comments / doctype / PI: skipped

    def close(self) -> None:
        self._flush()


def strip_html(html: str) -> str:
    """Return the main text content of an HTML payload, boilerplate removed.

    Blocks inside nav/header/footer/aside/script/style/form subtrees (or
    containers whose id/class carries a boilerplate token) are dropped; the
    survivors are kept when ``len >= MIN_BLOCK_CHARS`` and link-text share
    ``< MAX_LINK_SHARE``; keeping a short survivor because it sits next to
    a kept block is NOT attempted — the rule stays local and therefore
    embarrassingly parallel. Blocks join with a single newline.
    """
    parser = _BlockCollector()
    try:
        parser.feed(html)
        parser.close()
    except ValueError:
        # The tokenizer's known raising path: html.unescape of a decimal
        # character reference past CPython's int-string limit (4 300
        # digits). Degrade to tag-stripped text.
        return _WS.sub(" ", re.sub(r"<[^>]*>", " ", html)).strip()
    return "\n".join(parser.blocks)


# ---------------------------------------------------------------------------
# Pseudo-PDF layout reconstruction
# ---------------------------------------------------------------------------

# Minimum horizontal gap (in the synthetic bbox coordinate space) between the
# start-x of two lines for them to belong to different columns.
COLUMN_GAP = 150.0


def parse_pdf_layout(text: str) -> str:
    """Reconstruct reading order from ``[x0,y0,x1,y1] line text`` records.

    Lines are clustered into columns on sorted distinct x0 (new column when
    the gap exceeds ``COLUMN_GAP``), then emitted column-major ordered by
    (y0, x0) — the standard multi-column reading order. Non-bbox lines pass
    through in place (appended after the reconstructed body, preserving their
    relative order), so partially-marked payloads degrade gracefully.
    """
    records: list[tuple[float, float, str]] = []  # (x0, y0, text)
    stray: list[str] = []
    for line in text.splitlines():
        s = line.strip()
        if not s:
            continue
        m = _PDF_LINE.match(s)
        if m:
            records.append((float(m.group(1)), float(m.group(2)), m.group(5)))
        else:
            stray.append(s)
    if not records:
        return "\n".join(stray)

    xs = sorted({x for x, _, _ in records})
    col_start: dict[float, int] = {}
    col = 0
    prev = None
    for x in xs:
        if prev is not None and x - prev > COLUMN_GAP:
            col += 1
        col_start[x] = col
        prev = x

    ordered = sorted(records, key=lambda r: (col_start[r[0]], r[1], r[0]))
    out = [t for _, _, t in ordered]
    out.extend(stray)
    return "\n".join(out)


def extract_main_content(text: str) -> tuple[str, str]:
    """Dispatch a payload to its extractor → (kind, extracted_text).

    The graft's fused preprocess stage (reference analog:
    ``preprocessing.py:328-357`` composing load→normalize→resize→orient into
    one pass) — one function call per payload inside the Arrow batch.
    """
    if text is None:
        return KIND_PROSE, ""
    k = detect_payload_kind(text)
    if k == KIND_HTML:
        return k, strip_html(text)
    if k == KIND_PDF:
        return k, parse_pdf_layout(text)
    return KIND_PROSE, text.strip()
