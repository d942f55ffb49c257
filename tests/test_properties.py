"""Property-based tests (hypothesis) for the parity-critical parser core —
the invariants that must hold for ANY input, not just fixtures."""

from __future__ import annotations

from datetime import date

from hypothesis import given, settings
from hypothesis import strategies as st

from br_doc_ocr_spark.core import fields as F
from br_doc_ocr_spark.core import textops
from br_doc_ocr_spark.core.extract import scan_fields, segment_payload

text_strategy = st.text(max_size=400)


@given(st.text(alphabet="0123456789.-/ ", max_size=40))
@settings(max_examples=300, deadline=None)
def test_normalize_cpf_total_and_idempotent(s):
    out = F.normalize_cpf(s)
    assert out is not None or s is None
    assert F.normalize_cpf(out) == out  # idempotent
    if len(F.digits_of(s)) == 11:
        assert F.is_valid_cpf_format(out)


# the DD/MM/YYYY contract is 4-digit years (strftime pads shorter years
# platform-dependently; 3-digit years are outside the document domain)
@given(st.dates(min_value=date(1000, 1, 1), max_value=date(9999, 12, 31)))
@settings(max_examples=300, deadline=None)
def test_normalize_date_agrees_with_datetime(d):
    br = d.strftime("%d/%m/%Y")
    iso = d.strftime("%Y-%m-%d")
    assert F.normalize_date(br) == iso
    assert F.normalize_date(iso) == iso


@given(st.integers(0, 99), st.integers(0, 99), st.integers(0, 9999))
@settings(max_examples=300, deadline=None)
def test_normalize_date_invalid_calendar_passthrough(day, month, year):
    s = f"{day:02d}/{month:02d}/{year:04d}"
    out = F.normalize_date(s)
    try:
        date(year, month, day)
        assert out == f"{year:04d}-{month:02d}-{day:02d}"
    except ValueError:
        assert out == s  # invalid returns original unchanged


@given(st.floats(min_value=0, max_value=1e9, allow_nan=False))
@settings(max_examples=200, deadline=None)
def test_parse_currency_roundtrips_brazilian_format(v):
    v = round(v, 2)
    br = f"R$ {v:,.2f}".replace(",", "X").replace(".", ",").replace("X", ".")
    assert F.parse_currency(br) == v
    assert F.parse_currency(f"{v:.2f}") == v


@given(text_strategy)
@settings(max_examples=300, deadline=None)
def test_scan_fields_never_crashes_and_spans_index_text(s):
    fields, spans, scores = scan_fields(s)
    assert set(fields) == set(scores)
    for span in spans:
        assert 0 <= span["start"] <= span["end"] <= len(s)
    # every field has at least one span
    assert set(fields) <= {sp["field"] for sp in spans}


@given(text_strategy)
@settings(max_examples=200, deadline=None)
def test_extract_main_content_total(s):
    kind, content = textops.extract_main_content(s)
    assert kind in ("html", "pdf", "prose")
    assert isinstance(content, str)


@given(st.text(alphabet=st.characters(blacklist_categories=("Cs",)), max_size=300))
@settings(max_examples=200, deadline=None)
def test_strip_html_never_crashes(s):
    out = textops.strip_html(s)
    assert isinstance(out, str)
    assert "<script" not in out.lower()


@given(text_strategy)
@settings(max_examples=200, deadline=None)
def test_segment_payload_covers_input(s):
    segs = segment_payload(s)
    assert len(segs) >= 1
    for seg in segs:
        assert isinstance(seg, str)


@given(st.dictionaries(st.text(min_size=1, max_size=8),
                       st.floats(0, 1, allow_nan=False), max_size=8),
       st.floats(0, 1, allow_nan=False))
@settings(max_examples=200, deadline=None)
def test_flag_low_confidence_properties(scores, threshold):
    flagged = F.flag_low_confidence(scores, threshold)
    assert set(flagged) == {k for k, v in scores.items() if v < threshold}
    # order-preserving (insertion order of the dict)
    assert flagged == [k for k in scores if scores[k] < threshold]


@given(st.dictionaries(st.text(min_size=1, max_size=6),
                       st.text(max_size=6), max_size=6),
       st.lists(st.text(min_size=1, max_size=6), max_size=6))
@settings(max_examples=200, deadline=None)
def test_derive_status_domain(data, low):
    assert F.derive_status(data, low) in ("success", "partial", "failed")


# --- classifier length-dispatch equivalence ---------------------------------
# The shipped _classify_token dispatches on token length (every classifier
# pattern is fixed-length); this locks it against the original ordered
# 5-pattern fullmatch chain on the candidate-token grammar.

import re as _re

_CHAIN = [
    ("chave_acesso", _re.compile(r"\d{44}")),
    ("cnpj", _re.compile(r"\d{2}\.\d{3}\.\d{3}/\d{4}-\d{2}|\d{14}")),
    ("cpf", _re.compile(r"\d{3}\.\d{3}\.\d{3}-\d{2}|\d{11}")),
    ("registro_geral", _re.compile(r"MG-\d{2}\.\d{3}\.\d{3}|\d{2}\.\d{3}\.\d{3}-\d")),
    ("data", _re.compile(r"\d{2}/\d{2}/\d{4}|\d{4}-\d{2}-\d{2}")),
]


def _classify_reference(token: str):
    c0 = token[0]
    if c0 == "R" and token[1] == "$":
        return "valor"
    if c0.isdigit() or c0 == "M":
        for name, pattern in _CHAIN:
            if pattern.fullmatch(token):
                return name
        return None
    if _re.fullmatch(r"(?:SSP|DETRAN|PC|IFP|SDS|SESP|IGP)-[A-Z]{2}|IIRGD", token):
        return "orgao_emissor"
    return None


@given(st.text(alphabet="0123456789./-", min_size=1, max_size=50)
       .filter(lambda s: s[0].isdigit()))
@settings(max_examples=300)
def test_classify_token_matches_ordered_chain(token):
    from br_doc_ocr_spark.core.extract import _classify_token

    assert _classify_token(token) == _classify_reference(token)


@given(st.sampled_from([
    "12345678901234567890123456789012345678901234",  # 44
    "12345678901234", "12.345.678/0001-90",          # cnpj
    "12345678901", "123.456.789-01",                 # cpf
    "MG-12.345.678", "12.345.678-9",                 # rg
    "12/05/1990", "1990-05-12",                      # data
    "R$ 1.234,56", "SSP-SP", "IIRGD", "DETRAN-RJ",
    "1234567890123",  # 13 digits: nothing
]))
def test_classify_token_canonical_examples(token):
    from br_doc_ocr_spark.core.extract import _classify_token

    assert _classify_token(token) == _classify_reference(token)


# --- candidate tokenizer equivalence ----------------------------------------
# The shipped _CANDIDATE leads with one character class (so `re` can skip
# non-candidate positions) and re-checks the consumed character per branch
# with a lookbehind; this locks it against the plain alternation it replaced,
# and scan_fields against that alternation behind the old _ANY_FIELD_HINT
# pre-filter. Both references match ASCII digits only ([0-9]), like the
# shipped tokenizer.

_CANDIDATE_REFERENCE = _re.compile(
    r"R\$\s?[0-9](?:[0-9.,]*[0-9])?"
    r"|MG-[0-9]{2}\.[0-9]{3}\.[0-9]{3}\b"
    r"|[0-9](?:[0-9./-]*[0-9])?"
    r"|\b(?:SSP|DETRAN|PC|IFP|SDS|SESP|IGP)-[A-Z]{2}\b|\bIIRGD\b"
    r"|(?i:categoria)[:\s]+\b(?P<cat>ACC|AB|AC|AD|AE|BC|BD|BE|CD|CE|DE|[A-E])\b"
)
_HINT_REFERENCE = _re.compile(
    r"[0-9]|(?i:categoria)|SSP-|DETRAN-|PC-|IFP-|SDS-|SESP-|IGP-|IIRGD")

# field fragments, their near misses, and the characters where Unicode case
# folding, Unicode digits and \b could set the two patterns apart
_FIELD_FRAGMENTS = [
    "0", "7", "12", "٣", ".", "/", "-", ",", ":", "$", " ", "\n", "_", "x",
    "R", "R$", "R$ ", "M", "MG-", "MG-12.345.678", "S", "D", "P", "I", "C",
    "c", "SSP-SP", "SSP-", "DETRAN-RJ", "PC-MG", "IFP-RJ", "IGP-RS",
    "SDS-PE", "SESP-", "IIRGD", "categoria", "CaTeGoRiA", "CATEGORIA: ",
    "categorİa", "categorıa", "İ", "ı", "AB", " ACC", "E", "a",
    "123.456.789-01", "12.345.678/0001-90", "12/05/1990", "1990-05-12",
]
_field_text = st.lists(st.sampled_from(_FIELD_FRAGMENTS), max_size=24).map(
    "".join)


def _tokens(pattern, s):
    return [(m.span(), m.lastgroup, m.span("cat")) for m in pattern.finditer(s)]


@given(_field_text)
@settings(max_examples=600, deadline=None)
def test_candidate_tokenizer_matches_plain_alternation(s):
    from br_doc_ocr_spark.core.extract import _CANDIDATE

    assert _tokens(_CANDIDATE, s) == _tokens(_CANDIDATE_REFERENCE, s)


@given(_field_text)
@settings(max_examples=300, deadline=None)
def test_scan_fields_matches_hint_gated_plain_alternation(s):
    from unittest import mock

    from br_doc_ocr_spark.core import extract

    if _HINT_REFERENCE.search(s):
        with mock.patch.object(extract, "_CANDIDATE", _CANDIDATE_REFERENCE):
            expected = extract.scan_fields(s)
    else:
        expected = ({}, [], {})
    assert scan_fields(s) == expected


@given(st.text(alphabet=st.characters(blacklist_categories=("Cs", "Nd")),
               max_size=300).filter(lambda s: not _HINT_REFERENCE.search(s)))
@settings(max_examples=300, deadline=None)
def test_scan_fields_finds_nothing_in_hint_free_prose(s):
    assert scan_fields(s) == ({}, [], {})


# --- strip_html pinned output -----------------------------------------------
# A seeded tag-soup corpus (nested and malformed boilerplate, self-closing
# anchors, entities, raw-text elements, stray '<'); the sha256 of its joined
# strip_html output was recorded before boilerplate text stopped being
# buffered and the keep rule moved into the block flush.

_SOUP_TAGS = ["nav", "header", "footer", "aside", "form", "div", "p", "a",
              "span", "li", "ul", "section", "br", "script", "style", "td",
              "b", "svg", "template", "noscript", "main", "h1"]
_SOUP_ATTRS = ["", ' class="menu"', ' id="sidebar"', ' class="content"',
               ' role="banner"', " class='ad x'", ' href="x/"', " id=footer",
               ' class="social-share"']
_SOUP_TEXT = ["Conteúdo principal do documento", "&amp;", "&lt;b&gt;",
              "&#x41;&#66;&nbsp;", "R$ 1.234,56", "CPF 123.456.789-01",
              "  \n ", "<", "x < y", "Mais texto longo para o bloco",
              "Home", "Copyright 2024", ">", "'", '"', "é ç ã",
              "a < b < c < d < e < f < g < h < i < j < k < l < m"]


def _tag_soup(rng) -> str:
    out = []
    for _ in range(rng.randint(1, 40)):
        r = rng.random()
        tag = rng.choice(_SOUP_TAGS)
        if r < 0.3:
            out.append(f"<{tag}{rng.choice(_SOUP_ATTRS)}>")
        elif r < 0.5:
            out.append(f"</{tag.upper() if rng.random() < 0.2 else tag}>")
        elif r < 0.55:
            out.append(f"<{tag}/>")
        elif r < 0.58:
            out.append("<!-- comentário -->")
        elif r < 0.6:
            out.append("<a/>")
        else:
            out.append(rng.choice(_SOUP_TEXT))
    return "".join(out)


_SOUP_SHA256 = (
    "2b4eb39ac5f835bc97d9732caa7fb4ff3a3acb4840e067327f0cad54a9ec0bcd")


def test_strip_html_output_pinned_on_tag_soup():
    import hashlib
    import random

    rng = random.Random(20261018)
    out = "\x00".join(textops.strip_html(_tag_soup(rng)) for _ in range(4000))
    assert hashlib.sha256(out.encode()).hexdigest() == _SOUP_SHA256


@given(st.lists(st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=600),
    max_size=20))
@settings(max_examples=60, deadline=None)
def test_fingerprint_batch_equals_scalar_on_arbitrary_unicode(texts):
    """The vectorized block-Horner kernel is value-identical to the scalar
    spec for arbitrary unicode (incl. astral codepoints) and any length mix
    around the 128-char block boundary."""
    from br_doc_ocr_spark.ops import textstats

    got = textstats._fingerprint_batch(texts)
    want = [textstats._fingerprint_str(t) if isinstance(t, str) and t else 0
            for t in texts]
    assert got == want


@given(st.lists(st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=80),
    min_size=1, max_size=8))
@settings(max_examples=25, deadline=None)
def test_duckdb_xxh64_equals_spec_on_arbitrary_unicode(texts):
    """The generated DuckDB XXH64 SQL matches the pure-Python spec model on
    arbitrary unicode strings (UTF-8 expansion, stripe/tail boundaries)."""
    import duckdb

    from br_doc_ocr_spark import duckdb_xxh64 as X
    from tests.test_duckdb_xxh64 import _signed, xxh64

    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT * FROM (VALUES "
                + ", ".join(f"({i}, ?)" for i in range(len(texts)))
                + ") v(id, s)", list(texts))
    sql = ("WITH " + X.xxh64_string_ctes("t", ["id"], "s", "h", "hx")
           + " SELECT id, h FROM hx_out ORDER BY id")
    got = dict(con.execute(sql).fetchall())
    want = {i: _signed(xxh64(s.encode("utf-8"), 42))
            for i, s in enumerate(texts)}
    assert got == want


@given(st.text(alphabet="0123456789.-/ abCPFNJRG$R,", max_size=300),
       st.sets(st.sampled_from(["cpf", "cnpj", "registro_geral",
                                "chave_acesso", "data", "valor"]),
               max_size=6))
@settings(max_examples=300, deadline=None)
def test_redact_text_reconstruction_and_no_leak(s, redact):
    """For ANY payload: redaction preserves every character outside the
    masked spans in order, replaces each masked span with its [FIELD]
    token, and no masked span's original text survives at its position."""
    from br_doc_ocr_spark.core.extract import redact_text

    redact = frozenset(redact)
    _, spans, _ = scan_fields(s)
    red = redact_text(s, spans, redact)
    # manual splice over sorted masked spans reproduces redact_text
    hits = sorted((x for x in spans if x["field"] in redact),
                  key=lambda x: x["start"])
    parts, pos = [], 0
    for x in hits:
        parts.append(s[pos:x["start"]])
        parts.append("[" + x["field"].upper() + "]")
        pos = x["end"]
    parts.append(s[pos:])
    assert red == "".join(parts)
    if not hits:
        assert red == s
