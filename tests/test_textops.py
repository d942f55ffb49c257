"""Unit tests for HTML boilerplate stripping and PDF layout reconstruction."""

from __future__ import annotations

import pytest

from br_doc_ocr_spark.core import textops as T


HTML_DOC = """
<html><head><style>.x{color:red}</style><script>var a=1;</script></head>
<body>
<nav><a href="/">Home</a> <a href="/about">About</a></nav>
<header><h1>Site Title Banner</h1></header>
<div class="sidebar"><p>Subscribe to our newsletter today!</p></div>
<div id="main-content">
  <p>This is the first real paragraph of the article body text.</p>
  <p>Second paragraph with the payload CPF 123.456.789-00 embedded.</p>
</div>
<div class="ads"><p>Buy cheap widgets now, limited offer!!!</p></div>
<footer><p>Copyright 2026 Example Corp. All rights reserved.</p></footer>
</body></html>
"""


def test_detect_payload_kind():
    assert T.detect_payload_kind(HTML_DOC) == "html"
    assert T.detect_payload_kind("[10,20,100,30] hello") == "pdf"
    assert T.detect_payload_kind("plain words only") == "prose"
    assert T.detect_payload_kind("") == "prose"


def test_strip_html_keeps_main_drops_boilerplate():
    out = T.strip_html(HTML_DOC)
    assert "first real paragraph" in out
    assert "CPF 123.456.789-00" in out
    assert "Home" not in out            # nav
    assert "newsletter" not in out      # sidebar class hint
    assert "cheap widgets" not in out   # ads class hint
    assert "Copyright" not in out       # footer
    assert "var a=1" not in out         # script
    assert "color:red" not in out       # style


def test_strip_html_link_density():
    html = ('<body><div><p>Real content sentence that is long enough to keep '
            'around here.</p><p><a href="x">link</a> <a href="y">another link '
            'list item</a></p></div></body>')
    out = T.strip_html(html)
    assert "Real content" in out
    assert "another link" not in out


def test_strip_html_malformed_degrades():
    out = T.strip_html("<div><p>unclosed but content is long enough here")
    assert "content is long enough" in out


def test_strip_html_falls_back_on_an_overlong_character_reference():
    """A decimal character reference past CPython's int-string limit makes
    html.unescape, and so the block tokenizer, raise ValueError: the one
    input that reaches strip_html's tag-stripping fallback."""
    html = ("<div><nav>Home</nav><p>Content before the reference &#"
            + "1" * 5000 + "; and after it.</p></div>")
    with pytest.raises(ValueError):
        T._BlockCollector().feed(html)
    out = T.strip_html(html)
    assert out.startswith("Home Content before the reference &#111")
    assert out.endswith("; and after it.")


def test_parse_pdf_layout_single_column():
    text = "\n".join([
        "[72,100,500,112] First line of the page.",
        "[72,120,500,132] Second line of the page.",
        "[72,140,500,152] Third line.",
    ])
    assert T.parse_pdf_layout(text) == (
        "First line of the page.\nSecond line of the page.\nThird line."
    )


def test_parse_pdf_layout_two_columns_reading_order():
    # Right column starts at x=400 (> COLUMN_GAP from 72): read left column
    # fully first, then right column.
    text = "\n".join([
        "[400,100,700,112] R1",
        "[72,100,350,112] L1",
        "[72,120,350,132] L2",
        "[400,120,700,132] R2",
    ])
    assert T.parse_pdf_layout(text) == "L1\nL2\nR1\nR2"


def test_parse_pdf_layout_unsorted_y():
    text = "[72,140,500,152] third\n[72,100,500,112] first\n[72,120,500,132] second"
    assert T.parse_pdf_layout(text) == "first\nsecond\nthird"


def test_parse_pdf_layout_stray_lines_appended():
    text = "[72,100,500,112] body line\nno bbox here"
    assert T.parse_pdf_layout(text) == "body line\nno bbox here"


def test_extract_main_content_dispatch():
    kind, content = T.extract_main_content("  plain prose  ")
    assert (kind, content) == ("prose", "plain prose")
    kind, content = T.extract_main_content("[1,2,3,4] x")
    assert (kind, content) == ("pdf", "x")
    kind, _ = T.extract_main_content(HTML_DOC)
    assert kind == "html"
    assert T.extract_main_content(None) == ("prose", "")


def test_uppercase_rawtext_close_tag_does_not_truncate():
    from br_doc_ocr_spark.core.textops import strip_html

    out = strip_html("<div>Valid content before here.</div>"
                     "<SCRIPT>var x=1;</SCRIPT>"
                     "<p>Important body text after the script.</p>")
    assert "Important body text" in out
    assert "var x=1" not in out


def test_unclosed_boilerplate_is_implicitly_closed_by_outer_end_tag():
    """HTML5 implicit close: '</div>' closes an unclosed <nav> child; the
    old single-entry unwind left _boiler_depth elevated and discarded the
    whole remaining document."""
    from br_doc_ocr_spark.core.textops import strip_html

    out = strip_html("<div><nav>menu</div>"
                     "<p>The real article body text continues here.</p>"
                     "<p>Second paragraph of real content text.</p>")
    assert "real article body" in out
    assert "Second paragraph" in out
    assert "menu" not in out


def test_self_closing_tags_do_not_leak_depth():
    """XHTML/void self-closing syntax must close immediately: a '<a/>' or
    '<nav/>' that leaked its depth marked every later block link-dominated
    or boilerplate and extracted the document as empty (the greedy attrs
    group used to swallow the trailing '/')."""
    from br_doc_ocr_spark.core.textops import strip_html

    body = "This is the real article content of the page with many words."
    assert strip_html(f"<div><a href='/home'/><p>{body}</p></div>") == body
    assert strip_html(f"<div><nav/><p>{body}</p></div>") == body
    assert strip_html(f"<div><br/><p>{body}</p></div>") == body
    assert strip_html(f"<div><br /><p>{body}</p></div>") == body
    # a self-closing BOILER tag must not mark later content boiler either
    assert strip_html(f"<div><aside/><p>{body}</p></div>") == body
