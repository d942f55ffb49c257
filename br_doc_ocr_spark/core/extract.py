"""The per-turn extraction kernel: one pandas batch in → one pandas batch out.

This module is the graft's replacement for the reference's per-image pipeline
``_extract_single`` (``/root/reference/src/br_doc_ocr/services/extraction.py:
139-236``): orient/preprocess becomes payload-kind detection + main-content
extraction (textops), the VLM kernel becomes the deterministic field scanner
below, and postprocessing (normalize → confidence → low-confidence flags →
status) keeps the reference's exact semantics (fields.py).

Every batch entry point runs one row loop, :func:`_extract_rows` — also the
one error channel (a payload that raises becomes :func:`_error_row`) — under
two kernels: :func:`extract_batch` (one row per turn) and
:func:`extract_documents_batch` (one row per document segment). The Spark
jobs run them through one ``mapInPandas`` adapter (``pipeline.map_kernel``);
the golden oracles call them directly on a whole pandas table,
single-threaded — identical bytes either way.
"""

from __future__ import annotations

import re
from typing import Any

import pandas as pd

from br_doc_ocr_spark.core import fields as F
from br_doc_ocr_spark.core import textops

# ---------------------------------------------------------------------------
# Field scanner — pattern registry, scanned against the RAW payload so span
# offsets index into the original ``text`` column (FIXTURES.md §2).
# Patterns are claimed in priority order; later matches overlapping an already
# claimed character range are dropped (prevents the 11-digit prefix of an NFe
# key from being read as a CPF).
# ---------------------------------------------------------------------------

VALID_CONFIDENCE = 0.95   # deterministic stand-in for the VLM's per-field score
INVALID_CONFIDENCE = 0.45  # < FR-013 threshold 0.5 → flagged low-confidence
CLASSIFY_CONFIDENCE = 0.97  # deterministic stand-in for the classifier score


def _valid_date(normalized: str) -> bool:
    # direct calendar check — comparing normalize_date(x) == x is vacuous for
    # ISO-invalid inputs because normalize_date returns invalid input
    # UNCHANGED ('2020-02-31' would otherwise score valid)
    return F.is_valid_iso_date(normalized)


# Per-field (normalizer, validator); matching is done by ONE combined
# alternation pass (named groups) — 8 separate finditer scans profiled as the
# kernel's dominant cost. Alternation order encodes claim priority at equal
# positions (an NFe 44-digit run wins over the CPF 11-digit rule via the
# digit-run lookarounds).
_FIELD_FNS: dict[str, tuple[Any, Any]] = {
    "chave_acesso": (lambda s: F.validate_nfe_key(s).get("normalized", s),
                     lambda s: F.validate_nfe_key(s)["valid"]),
    "cnpj": (F.normalize_cnpj, lambda s: F.validate_cnpj(s)["valid"]),
    "cpf": (F.normalize_cpf, F.is_valid_cpf_format),
    "registro_geral": (F.normalize_rg, lambda s: F.validate_rg_number(s)["valid"]),
    "orgao_emissor": (lambda s: s.strip().upper(), F.validate_orgao_emissor),
    "categoria_habilitacao": (lambda s: s, lambda s: s in F.CNH_CATEGORIES),
    "data": (F.normalize_date, _valid_date),
    "valor": (lambda s: (lambda v: str(v) if v is not None else s)(F.parse_currency(s)),
              lambda s: F.parse_currency(s) is not None),
}

# Stage 1 — candidate tokenizer: maximal digit-ish tokens (digits joined by
# ./-/), currency, issuer acronyms, MG-prefixed RG, categoria-with-context.
# The pattern opens with ONE character class holding every possible first
# character, so `re` compiles a charset prefix and skips the positions that
# cannot start a candidate in C (it builds no such skip when a top-level
# branch starts with \d, \b or a flag group). Each branch then re-checks the
# consumed character with a one-character lookbehind; no two branches share
# a first character, so at most one can match at any position and spans are
# those of the plain alternation 'R\$…|MG-…|[0-9]…|\bSSP-…|(?i:categoria)…'.
# Digits are ASCII [0-9], not \d (which reads Arabic-Indic or Devanagari runs
# as a CPF or a date); \b stays Unicode, for accented Portuguese words.
_CANDIDATE = re.compile(
    r"[0-9RMSDPIcC]"
    r"(?:(?<=[0-9])(?:[0-9./-]*[0-9])?"
    r"|(?<=R)\$\s?[0-9](?:[0-9.,]*[0-9])?"
    r"|(?<=M)G-[0-9]{2}\.[0-9]{3}\.[0-9]{3}\b"
    r"|(?<=\bS)(?:SP|DS|ESP)-[A-Z]{2}\b"
    r"|(?<=\bD)ETRAN-[A-Z]{2}\b"
    r"|(?<=\bP)C-[A-Z]{2}\b"
    r"|(?<=\bI)(?:[FG]P-[A-Z]{2}|IRGD)\b"
    # the label is case-insensitive (OCR'd CNHs print 'CATEGORIA'; only 'c'
    # and 'C' case-fold to 'c'); the category VALUE stays uppercase
    r"|(?<=[cC])(?i:ategoria)[:\s]+\b"
    r"(?P<cat>ACC|AB|AC|AD|AE|BC|BD|BE|CD|CE|DE|[A-E])\b)"
)

# Stage 2 — anchored classification of a candidate token. Every classifier
# pattern is FIXED-LENGTH, so classification dispatches on token length:
# pure-digit runs need no regex at all (44→NFe key, 14→CNPJ, 11→CPF — the
# same priority the old ordered fullmatch chain encoded), and separator-bearing
# tokens confirm with exactly one anchored fullmatch. Profiled ~2× faster than
# the 5-pattern chain; semantics identical (pure-digit/length cases are
# disjoint across patterns).
_DIGIT_ONLY_BY_LEN = {44: "chave_acesso", 14: "cnpj", 11: "cpf"}
_FORMATTED_BY_LEN: dict[int, tuple[str, re.Pattern[str]]] = {
    18: ("cnpj", re.compile(r"\d{2}\.\d{3}\.\d{3}/\d{4}-\d{2}")),
    14: ("cpf", re.compile(r"\d{3}\.\d{3}\.\d{3}-\d{2}")),
    13: ("registro_geral", re.compile(r"MG-\d{2}\.\d{3}\.\d{3}")),
    12: ("registro_geral", re.compile(r"\d{2}\.\d{3}\.\d{3}-\d")),
    10: ("data", re.compile(r"\d{2}/\d{2}/\d{4}|\d{4}-\d{2}-\d{2}")),
}
_ORGAO_TOKEN = re.compile(r"(?:SSP|DETRAN|PC|IFP|SDS|SESP|IGP)-[A-Z]{2}|IIRGD")

# Digit-led candidates classify ONLY at these exact lengths (pure-digit
# 44/14/11 plus the fixed-width formatted patterns above); any other length
# can still produce a field solely through the '-'-merged-run recovery,
# which requires a '/'-formatted part of length ≥ 10 and therefore a '-'
# inside a span of length ≥ 12. scan_fields uses this to reject the
# dominant short-digit-run candidates (~60% in transcript payloads) on span
# arithmetic alone — no match-string allocation, no classify call.
_DIGIT_CLASSIFIABLE_LENS = frozenset(
    set(_DIGIT_ONLY_BY_LEN) | set(_FORMATTED_BY_LEN))


def _classify_token(token: str) -> str | None:
    c0 = token[0]
    if c0 == "R" and token[1] == "$":
        return "valor"
    if c0.isdigit() or c0 == "M":
        # tokenizer guarantees digit-branch chars ⊆ [0-9] ∪ {., /, -} —
        # isdigit() is exactly "no separators" here
        if token.isdigit():
            return _DIGIT_ONLY_BY_LEN.get(len(token))
        entry = _FORMATTED_BY_LEN.get(len(token))
        if entry is not None and entry[1].fullmatch(token):
            return entry[0]
        return None
    if _ORGAO_TOKEN.fullmatch(token):
        return "orgao_emissor"
    return None


def scan_fields(
    text: str,
) -> tuple[dict[str, str], list[dict[str, Any]], dict[str, float]]:
    """Scan one payload → (fields, spans, confidence_scores).

    ``fields`` keeps the first occurrence per field name (normalized value);
    ``spans`` records every non-overlapping occurrence as char offsets into
    the raw payload; ``confidence_scores`` carries the deterministic validity
    score feeding FR-013 low-confidence flagging.
    """
    fields: dict[str, str] = {}
    spans: list[dict[str, Any]] = []
    scores: dict[str, float] = {}
    if not text:
        return fields, spans, scores

    spans_append = spans.append
    classify = _classify_token
    claimed: list[tuple[str, int, int]] = []
    for m in _CANDIDATE.finditer(text):
        if m.lastgroup == "cat":
            name = "categoria_habilitacao"
            start, end = m.span("cat")
        else:
            start, end = m.span()
            if text[start].isdigit():
                length = end - start
                if length not in _DIGIT_CLASSIFIABLE_LENS and (
                        length < 12 or text.find("-", start, end) == -1):
                    continue
            name = classify(m.group())
            if name is None:
                # recovery for value runs merged through '-' by the maximal
                # tokenizer (a date RANGE '01/02/2020-05/02/2020' is one
                # 21-char token): re-classify the '-'-separated parts with
                # adjusted offsets. Only reached when the WHOLE token failed,
                # so formatted CPF/RG/CNPJ (which classify intact) never
                # split here. Recovery is restricted to '/'-formatted parts
                # that also pass their validator (dates, '/'-formatted CNPJ
                # fragments): inside an unclassifiable merged run a bare
                # 11/14/44-digit part is usually a serial/id fragment
                # ('12345678901-1'), and format-normalizing validators (CPF)
                # would bless any digit run — so digit-only parts are not
                # recovered at all (ADVICE r01). Known residual asymmetry:
                # values whose OWN format contains '-' (formatted CPF/RG)
                # never reassemble from a merged run, since the split
                # consumes their separator.
                token = m.group()
                if "-" in token:
                    offset = 0
                    for part in token.split("-"):
                        sub = classify(part) if part and "/" in part else None
                        if sub is not None:
                            normalize, is_valid = _FIELD_FNS[sub]
                            if is_valid(str(normalize(part))):
                                claimed.append((sub, start + offset,
                                                start + offset + len(part)))
                        offset += len(part) + 1
                continue
        claimed.append((name, start, end))
    for name, start, end in claimed:
        spans_append({"field": name, "start": start, "end": end})
        if name not in fields:
            normalize, is_valid = _FIELD_FNS[name]
            normalized = str(normalize(text[start:end]))
            fields[name] = normalized
            # Confidence judges the POST-normalization value — the reference
            # validates after normalize_dates_in_result / normalize_cpf run
            # (extraction.py:194-206).
            scores[name] = (
                VALID_CONFIDENCE if is_valid(normalized) else INVALID_CONFIDENCE
            )
    return fields, spans, scores


# ---------------------------------------------------------------------------
# Batch kernel
# ---------------------------------------------------------------------------

# Spark-side schema string for mapInPandas; the column lists are read off it.
OUTPUT_SCHEMA_DDL = (
    "conv_id string, turn_idx int, role string, tool string, ts timestamp, "
    "payload_kind string, extracted_text string, fields map<string,string>, "
    "spans array<struct<field:string,start:int,end:int>>, "
    "confidence_scores map<string,double>, "
    "low_confidence_fields array<string>, n_fields int, status string"
)
# the two columns ``redact_fields`` appends
REDACT_SCHEMA_DDL = "redacted_text string, redaction_residuals int"


def _ddl_columns(ddl: str) -> list[str]:
    # nested types (map<string,string>, struct<...>) hold no ', '
    return [field.split(" ", 1)[0] for field in ddl.split(", ")]


OUTPUT_COLUMNS = _ddl_columns(OUTPUT_SCHEMA_DDL)
REDACT_COLUMNS = _ddl_columns(REDACT_SCHEMA_DDL)
_KEY_COLUMNS = OUTPUT_COLUMNS[:5]  # carried through from the transcript
_TURN_COLUMNS = OUTPUT_COLUMNS[5:]  # computed by extract_turn


def output_schema_ddl(redact: bool) -> str:
    """Kernel-output DDL for mapInPandas, the redaction columns last."""
    return OUTPUT_SCHEMA_DDL + (", " + REDACT_SCHEMA_DDL if redact else "")


def extract_turn(text: str | None,
                 allowed_fields: frozenset[str] | None = None,
                 redact_fields: frozenset[str] | None = None) -> dict[str, Any]:
    """Full per-turn pipeline on one payload (kind → content → fields →
    confidence → flags → status). Reference analog: ``extraction.py:139-236``
    minus the model call, plus main-content extraction.

    ``allowed_fields`` implements schema-guided extraction (US4,
    ``spec.md:67-77``): when set, detected fields/spans/scores are projected
    to the schema's declared field names — the ``filter_to_schema`` semantics
    (``schemas/__init__.py:276-305``) applied inside the kernel so the status
    and confidence derivations see the filtered view, exactly as the
    reference filters before flagging."""
    kind, content = textops.extract_main_content(text)
    fields, spans, scores = scan_fields(text or "")
    if redact_fields is not None:
        # masked over the UNFILTERED spans: a schema projection narrows the
        # reported view, but scrubbing must not silently skip an identifier
        # the scanner detected just because the schema dropped the field
        redacted = redact_text(text, spans, redact_fields)
    if allowed_fields is not None:
        fields = {k: v for k, v in fields.items() if k in allowed_fields}
        scores = {k: v for k, v in scores.items() if k in allowed_fields}
        spans = [s for s in spans if s["field"] in allowed_fields]
    low_conf = F.flag_low_confidence(scores)
    status = F.derive_status(fields, low_conf)
    row = {
        "payload_kind": kind,
        "extracted_text": content,
        "fields": fields,
        "spans": spans,
        "confidence_scores": scores,
        "low_confidence_fields": low_conf,
        "n_fields": len(fields),
        "status": status,
    }
    if redact_fields is not None:
        row["redacted_text"] = redacted
        row["redaction_residuals"] = count_redaction_residuals(
            redacted, redact_fields)
    return row


def schema_field_names(schema: dict[str, Any] | None) -> frozenset[str] | None:
    """Map an extraction schema (JSON-Schema dict) to the kernel's field
    names. Schema property names are used as-is; the schema's date fields
    (``format: date`` / name containing data/date, ``schemas/__init__.py:
    183-201``) additionally admit the scanner's generic ``data`` field."""
    if schema is None:
        return None
    from br_doc_ocr_spark.core import schemas as S

    names = set(S.all_fields(schema))
    if S.date_fields(schema):
        names.add("data")
    if any(S.field_types(schema).get(f) == "number" for f in names):
        names.add("valor")
    return frozenset(names)


# ---------------------------------------------------------------------------
# PII redaction (beyond-reference training-data op): mask detected field
# spans in the raw payload so the text can feed a training corpus without
# carrying the identifiers the scanner found. Span offsets index the RAW
# payload (FIXTURES.md §2), so masking is exact — no second regex pass, no
# pattern drift between detection and scrubbing.
# ---------------------------------------------------------------------------

# Identifier fields masked by default; `data`/`valor`/`orgao_emissor`/
# `categoria_habilitacao` are attributes, not identifiers, and stay.
DEFAULT_REDACT_FIELDS = frozenset(
    {"cpf", "cnpj", "registro_geral", "chave_acesso"})

# Every field name the scanner can emit — the validation domain for
# user-supplied field lists (--redact): a typo'd name would otherwise be
# silently never-matching, i.e. the identifier stays UNredacted while the
# command appears to succeed (ADVICE r03).
KNOWN_FIELDS = frozenset(_FIELD_FNS)


def redact_text(text: str | None, spans: list[dict[str, Any]],
                redact_fields: frozenset[str]) -> str | None:
    """Mask every span of a redacted field with ``[FIELD]`` (uppercased).

    Spans are non-overlapping by construction (the scanner's tokenizer is a
    non-overlapping ``finditer`` and recovery offsets partition a token), so
    a single left-to-right splice is exact. Unknown field names are ignored;
    None text passes through.
    """
    if text is None or not spans:
        return text
    hits = sorted(
        (s for s in spans if s["field"] in redact_fields),
        key=lambda s: s["start"])
    if not hits:
        return text
    parts: list[str] = []
    pos = 0
    for s in hits:
        parts.append(text[pos:s["start"]])
        parts.append(f"[{s['field'].upper()}]")
        pos = s["end"]
    parts.append(text[pos:])
    return "".join(parts)


def count_redaction_residuals(redacted: str | None,
                              redact_fields: frozenset[str]) -> int:
    """Residual-identifier audit (VERDICT r03 #5): span-based masking scrubs
    exactly what the scanner found, so the completeness proof is a SECOND
    scan of the REDACTED text — any span of a redacted field the scanner
    still detects there is an escape (e.g. a value the first pass's claim
    arithmetic attributed to a different field). Returns the escape count;
    0 is the invariant the pipeline's lineage carries per partition."""
    if not redacted:
        return 0
    _, spans, _ = scan_fields(redacted)
    return sum(1 for s in spans if s["field"] in redact_fields)


def _error_row(redact_fields: frozenset[str] | None = None) -> dict[str, Any]:
    """The one ``status='error'`` row shape, for a payload whose extraction
    raised: an empty extraction of kind 'unknown' (plus the redaction
    columns when ``redact_fields`` is set)."""
    row: dict[str, Any] = {
        "payload_kind": "unknown", "extracted_text": "",
        "fields": {}, "spans": [], "confidence_scores": {},
        "low_confidence_fields": [], "n_fields": 0, "status": "error",
    }
    if redact_fields is not None:
        row["redacted_text"] = None
        row["redaction_residuals"] = 0
    return row


def _extract_rows(texts: list[Any],
                  allowed_fields: frozenset[str] | None,
                  redact_fields: frozenset[str] | None) -> dict[str, list[Any]]:
    """The one row loop of every batch kernel and its one error channel:
    :func:`extract_turn` over ``texts`` → one list per computed column; a
    payload whose extraction raises becomes :func:`_error_row` (the
    reference's batch error channel, ``cli/batch.py:155-160``)."""
    cols = _TURN_COLUMNS + (REDACT_COLUMNS if redact_fields is not None else [])
    out: dict[str, list[Any]] = {c: [None] * len(texts) for c in cols}
    for i, text in enumerate(texts):
        try:
            row = extract_turn(text, allowed_fields, redact_fields)
        except Exception:
            row = _error_row(redact_fields)
        for key, value in row.items():
            out[key][i] = value
    return out


def extract_batch(batch: pd.DataFrame,
                  allowed_fields: frozenset[str] | None = None,
                  redact_fields: frozenset[str] | None = None) -> pd.DataFrame:
    """Vectorized-at-the-boundary batch kernel: pandas in → pandas out.

    Row-wise work happens inside the Arrow batch (regex scanning is inherently
    per-string); the Spark boundary sees exactly one ``mapInPandas`` crossing.
    Per-row failures become ``status='error'`` rows.

    ``redact_fields`` (PII scrubbing) appends a ``redacted_text`` column —
    the raw payload with every detected span of those fields masked; the
    base schema is unchanged when it is None.
    """
    return pd.DataFrame({
        **{c: batch[c].values for c in _KEY_COLUMNS},
        **_extract_rows(batch["text"].tolist(), allowed_fields, redact_fields),
    })


# ---------------------------------------------------------------------------
# Multi-document payloads (FR-015): 1 turn → N documents.
# Reference analog: detect_documents / extract_all_documents explode a single
# image into bounding-box crops (preprocessing.py:204-325, extraction.py:
# 102-119); the transcript analog splits a payload on explicit document
# separators and runs the full per-document pipeline on each segment.
# ---------------------------------------------------------------------------

_DOC_SEPARATOR = re.compile(r"\r?\n-{3,}\r?\n|\x0c")  # CRLF transcripts too
MIN_SEGMENT_CHARS = 8  # min-size predicate analog (preprocessing.py:281-290)

MULTIDOC_SCHEMA_DDL = (
    "conv_id string, turn_idx int, doc_idx int, n_docs int, "
    "payload_kind string, extracted_text string, fields map<string,string>, "
    "low_confidence_fields array<string>, n_fields int, status string"
)
_MULTIDOC_COLUMNS = _ddl_columns(MULTIDOC_SCHEMA_DDL)


def segment_payload(text: str | None) -> list[str]:
    """Split a payload into document segments on ``---`` divider lines or
    form feeds; segments below MIN_SEGMENT_CHARS are dropped (the reference's
    (50,50) min-crop filter). A payload with no separator is one segment."""
    if not text:
        return [""]
    parts = [p.strip() for p in _DOC_SEPARATOR.split(text)]
    kept = [p for p in parts if len(p) >= MIN_SEGMENT_CHARS]
    return kept if kept else [text.strip()]


def extract_documents_batch(batch: pd.DataFrame) -> pd.DataFrame:
    """flatMap form of the kernel: one output row per detected document.

    Mirrors ``extract_document(multi_document=True)``: every segment runs the
    full per-document pipeline independently (per-segment kind detection —
    a PDF page and an HTML page can share one payload).

    One :func:`_extract_rows` pass runs over the batch's segments, so a
    segment that raises is one error row and its siblings keep their
    results. A turn that cannot be segmented (a NaN turn_idx from a
    malformed upstream join, flagged -1, or a non-string payload) is one
    error row, not a dead scan partition (review r05).
    """
    if not len(batch):  # object columns, like a frame of no rows
        return pd.DataFrame(columns=_MULTIDOC_COLUMNS)
    # per output row: (conv_id, turn_idx, doc_idx, n_docs)
    keys: list[tuple[Any, int, int, int]] = []
    segments: list[str | None] = []
    unsegmented: list[int] = []  # positions of those turns' one row
    for conv_id, turn_idx, text in zip(batch["conv_id"], batch["turn_idx"],
                                       batch["text"]):
        idx, segs = -1, [None]
        try:
            idx = int(turn_idx)
            segs = segment_payload(text)
        except Exception:
            unsegmented.append(len(segments))
        keys += [(conv_id, idx, doc_idx, len(segs))
                 for doc_idx in range(len(segs))]
        segments += segs
    rows = _extract_rows(segments, None, None)
    for i in unsegmented:
        for key, value in _error_row().items():
            rows[key][i] = value
    out = pd.DataFrame(keys, columns=_MULTIDOC_COLUMNS[:4])
    return out.assign(**{c: rows[c] for c in _MULTIDOC_COLUMNS[4:]})


def oracle_extract_documents(transcripts: pd.DataFrame) -> pd.DataFrame:
    out = extract_documents_batch(transcripts)
    return out.sort_values(["conv_id", "turn_idx", "doc_idx"]).reset_index(drop=True)


# ---------------------------------------------------------------------------
# Single-record convenience API — the reference's most-used entry point
# (``POST /extract``, api/app.py:78-121; single-file cli/extract.py:20-178)
# over the SAME kernel the Spark job runs, so one-off answers and 100-TB
# batch answers cannot diverge. Driver-side, no session needed.
# ---------------------------------------------------------------------------

# Which extracted fields vote for which document type (classification by
# schema-field overlap — the graft analog of services/classification.py's
# type decision; priority cnh > rg > invoice mirrors field specificity).
_DOC_TYPE_HINTS: tuple[tuple[str, frozenset[str]], ...] = (
    ("cnh", frozenset({"categoria_habilitacao"})),
    # "registro_geral" is the key the scanner actually emits (review r04:
    # an earlier "rg" hint could never fire on kernel output); "rg" stays
    # for caller-supplied field maps that use the short name
    ("rg", frozenset({"registro_geral", "rg", "orgao_emissor"})),
    ("invoice", frozenset({"cnpj", "valor", "chave_acesso"})),
)


def _document_type_of(fields: dict[str, Any]) -> str:
    for doc_type, hints in _DOC_TYPE_HINTS:
        if hints & fields.keys():
            return doc_type
    return "unknown"


def extract_one(
    text: str | None,
    schema: dict[str, Any] | None = None,
    document_type: str | None = None,
    confidence: bool = True,
    multi_document: bool = False,
    redact_fields: frozenset[str] | None = None,
) -> dict[str, Any] | list[dict[str, Any]]:
    """Extract one payload → the reference's ExtractionResult response dict
    (contract: ``tests/contract/test_api_responses.py:13-111`` — required
    keys document_type / extracted_data / processing_time_ms / model_version
    / status; confidence keys present only when requested, exactly like
    ``return_confidence`` in api/app.py:81 and ``--confidence`` stripping in
    cli/extract.py:130-137; ``multi_document=True`` returns a list, one
    entry per detected segment, mirroring extract_document(multi_document)).

    ``document_type`` hints select the built-in schema (cnh/rg/invoice) the
    way the reference's hint does; an explicit ``schema`` wins over the hint.
    Errors are captured as a failed result with ``error_message`` (the API's
    error channel), never raised.

    ``redact_fields`` is the graft's opt-in PII scrubbing: a
    ``redacted_text`` key is ADDED only when requested, so the default
    response stays exactly the reference contract.
    """
    import time as _time

    from br_doc_ocr_spark.core import schemas as S

    schema_error: Exception | None = None
    if schema is None and document_type is not None:
        try:
            schema = S.get_default(document_type)
        except Exception as e:
            # the docstring promises errors are CAPTURED as a failed result,
            # never raised — an unknown document_type from a library caller
            # must ride the same channel (review r04)
            schema_error = e
    allowed = schema_field_names(schema)

    def one(payload: str | None) -> dict[str, Any]:
        t0 = _time.perf_counter()
        error_message = None
        try:
            if schema_error is not None:
                raise schema_error
            r = extract_turn(payload, allowed, redact_fields)
        except Exception as e:  # the API's 500-channel, shaped as a result
            r = {**_error_row(redact_fields), "status": "failed"}
            error_message = f"{type(e).__name__}: {e}"
        result = {
            "document_type": document_type or _document_type_of(r["fields"]),
            "extracted_data": r["fields"],
            "payload_kind": r["payload_kind"],
            "extracted_text": r["extracted_text"],
            "status": r["status"],
            "error_message": error_message,
            "model_version": "rules-v1",
        }
        if confidence:  # keys present whenever requested — contract
            result["confidence_scores"] = r["confidence_scores"]
            result["low_confidence_fields"] = r["low_confidence_fields"]
        if redact_fields is not None:
            result.update((c, r[c]) for c in REDACT_COLUMNS)
        result["processing_time_ms"] = int((_time.perf_counter() - t0) * 1000)
        return result

    if multi_document:
        return [one(seg) for seg in segment_payload(text)]
    return one(text)


def classify_one(text: str | None) -> dict[str, Any]:
    """Single-record classification without extraction — the reference's
    ``POST /classify`` (api/app.py:123-150) over the same deterministic
    rules. Response mirrors ``ClassificationResult.to_dict``
    (classification.py:26-41): document_type, confidence, alternatives,
    processing_time_ms. Confidence/alternatives follow the batch
    ``with_classification`` rule: ``CLASSIFY_CONFIDENCE`` for a typed
    document, residual spread over the other known types; 'unknown' gets
    0.0 and no alternatives."""
    import time as _time

    t0 = _time.perf_counter()
    try:
        # reuse the full per-turn pipeline — a separate classification code
        # path would drift from batch extraction the first time the kernel
        # changes its pre-scan handling
        turn = extract_turn(text)
        kind, doc_type = turn["payload_kind"], _document_type_of(turn["fields"])
    except Exception:
        kind, doc_type = "unknown", "unknown"
    known = [dt for dt, _ in _DOC_TYPE_HINTS]
    if doc_type in known:
        confidence = CLASSIFY_CONFIDENCE
        residual = round((1.0 - confidence) / (len(known) - 1), 6)
        alternatives = [{"document_type": dt, "confidence": residual}
                        for dt in known if dt != doc_type]
    else:
        confidence, alternatives = 0.0, []
    return {
        "document_type": doc_type,
        "payload_kind": kind,
        "confidence": confidence,
        "alternatives": alternatives,
        "processing_time_ms": int((_time.perf_counter() - t0) * 1000),
    }


def oracle_extract(transcripts: pd.DataFrame) -> pd.DataFrame:
    """Single-threaded golden oracle: same kernel, whole table, stable order.

    Output is sorted by (conv_id, turn_idx) — the stable-turn-ordering
    invariant every comparison uses (SURVEY.md §7.4 risk #2).
    """
    out = extract_batch(transcripts)
    return out.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
