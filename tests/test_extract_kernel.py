"""Unit tests for the shared extraction kernel (scan_fields / extract_turn /
oracle_extract) — pure pandas, no Spark."""

from __future__ import annotations

from br_doc_ocr_spark.core.extract import (
    OUTPUT_COLUMNS,
    extract_turn,
    oracle_extract,
    scan_fields,
)
from br_doc_ocr_spark.synth import GOLDEN_SNIPPETS, make_transcripts_pandas


def test_scan_cnh_golden():
    # conftest.py:242-264 canonical CNH record
    fields, spans, scores = scan_fields(GOLDEN_SNIPPETS[0])
    assert fields["cpf"] == "123.456.789-00"
    assert fields["data"] == "1990-05-15"
    assert fields["categoria_habilitacao"] == "AB"
    assert all(s == 0.95 for s in scores.values())
    cpf_span = next(s for s in spans if s["field"] == "cpf")
    assert GOLDEN_SNIPPETS[0][cpf_span["start"]:cpf_span["end"]] == "123.456.789-00"


def test_scan_invoice_golden():
    fields, _, scores = scan_fields(GOLDEN_SNIPPETS[4])
    assert fields["cnpj"] == "12.345.678/0001-90"
    assert fields["chave_acesso"] == "35210312345678000190550010000000011000000010"
    assert fields["valor"] == "1180.0"
    assert fields["data"] == "2026-01-15"
    assert scores["chave_acesso"] == 0.95


def test_scan_rg_state_variants():
    sp = scan_fields(GOLDEN_SNIPPETS[1])[0]
    assert sp["registro_geral"] == "12.345.678-9"
    assert sp["orgao_emissor"] == "SSP-SP"
    mg = scan_fields(GOLDEN_SNIPPETS[3])[0]
    assert mg["registro_geral"] == "MG-12.345.678"
    assert mg["orgao_emissor"] == "PC-MG"


def test_scan_bare_digit_runs_classified_by_length():
    fields, _, _ = scan_fields("ids: 12345678901 e 12345678000190")
    assert fields["cpf"] == "123.456.789-01"
    assert fields["cnpj"] == "12.345.678/0001-90"


def test_nfe_key_not_misread_as_cpf():
    # 44-digit run is claimed first; no CPF/CNPJ matched inside it.
    fields, spans, _ = scan_fields("chave 35210312345678000190550010000000011000000010 fim")
    assert list(fields) == ["chave_acesso"]
    assert len(spans) == 1


def test_invalid_fields_flag_low_confidence_and_partial_status():
    row = extract_turn("CPF 99.99 mas data 31/02/2020 valida CPF 12345678901")
    # first cpf occurrence "99.99"? 99.99 has no 11-digit run → the valid CPF
    # is the first cpf match; the invalid date flags low confidence.
    assert row["fields"]["data"] == "31/02/2020"  # invalid passes through
    assert "data" in row["low_confidence_fields"]
    assert row["status"] == "partial"


def test_no_fields_means_failed_status():
    row = extract_turn("apenas texto sem campos")
    assert row["fields"] == {} and row["status"] == "failed"
    assert extract_turn("")["status"] == "failed"
    assert extract_turn(None)["status"] == "failed"


def test_spans_index_into_raw_text_even_for_html():
    html = '<div id="main"><p>Cliente CPF 123.456.789-00 ok</p></div>'
    row = extract_turn(html)
    span = next(s for s in row["spans"] if s["field"] == "cpf")
    assert html[span["start"]:span["end"]] == "123.456.789-00"
    assert "CPF 123.456.789-00" in row["extracted_text"]


def test_oracle_extract_stable_order_and_columns():
    df = make_transcripts_pandas(n_convs=5, mean_turns=4, seed=7, skew_conv=False)
    out = oracle_extract(df)
    assert list(out.columns) == OUTPUT_COLUMNS
    assert len(out) == len(df)
    key = list(zip(out["conv_id"], out["turn_idx"]))
    assert key == sorted(key)


def test_oracle_is_deterministic():
    df = make_transcripts_pandas(n_convs=5, mean_turns=4, seed=7, skew_conv=False)
    a = oracle_extract(df)
    b = oracle_extract(df.sample(frac=1.0, random_state=1))  # shuffled input
    assert a["extracted_text"].tolist() == b["extracted_text"].tolist()
    assert a["fields"].tolist() == b["fields"].tolist()


def test_kernel_error_channel_captures_row_failures(monkeypatch):
    """A row that makes the kernel raise becomes a status='error' row; the
    batch never fails (reference error channel, cli/batch.py:155-160)."""
    import pandas as pd

    from br_doc_ocr_spark.core import extract as ex

    original = ex.extract_turn

    def exploding(text, allowed=None, redact=None):
        if text == "BOOM":
            raise RuntimeError("synthetic kernel failure")
        return original(text, allowed, redact)

    monkeypatch.setattr(ex, "extract_turn", exploding)
    batch = pd.DataFrame({
        "conv_id": ["c", "c"], "turn_idx": [0, 1], "role": ["user"] * 2,
        "text": ["BOOM", "CPF 123.456.789-00"], "tool": [""] * 2,
        "ts": pd.to_datetime(["2026-01-01"] * 2),
    })
    out = ex.extract_batch(batch)
    assert list(out["status"]) == ["error", "success"]
    assert out.iloc[0]["fields"] == {} and out.iloc[0]["extracted_text"] == ""


def test_scan_fields_digit_free_payloads():
    """Regression: the candidate-scan prefilter must not skip payloads whose
    only fields are digit-free (CNH categoria, issuer acronyms) — previously
    a bare '\\d' gate dropped them silently."""
    from br_doc_ocr_spark.core.extract import scan_fields

    fields, spans, scores = scan_fields("Categoria: AB")
    assert fields == {"categoria_habilitacao": "AB"}
    assert spans and scores["categoria_habilitacao"] == 0.95

    fields, spans, _ = scan_fields("Orgao emissor SSP-SP")
    assert fields == {"orgao_emissor": "SSP-SP"}

    fields, _, _ = scan_fields("emitido por IIRGD")
    assert fields == {"orgao_emissor": "IIRGD"}

    # truly field-free payloads still fast-path to empty
    assert scan_fields("plain prose with no fields at all") == ({}, [], {})


def test_non_ascii_digit_runs_yield_no_fields():
    """Brazilian document numbers are ASCII: Arabic-Indic and Devanagari
    digit runs in document shapes are not fields (a CPF at 0.95 and a date
    were read from them while the tokenizer matched \\d)."""
    for payload in ("CPF ١٢٣.٤٥٦.٧٨٩-٠٠", "data ١٢/٠٥/١٩٩٠",
                    "CNPJ ١٢.٣٤٥.٦٧٨/٠٠٠١-٩٠", "RG MG-١٢.٣٤٥.٦٧٨",
                    "valor R$ ١٢٣,٤٥", "chave " + "٣" * 44, "cpf " + "٣" * 11,
                    "CPF १२३.४५६.७८९-००", "data १२/०५/१९९०", "cpf " + "७" * 11):
        assert scan_fields(payload) == ({}, [], {}), payload
    # the same shapes in ASCII digits still scan
    assert scan_fields("CPF 123.456.789-00")[0] == {"cpf": "123.456.789-00"}


def test_calendar_invalid_iso_date_scores_low_confidence():
    """'2020-02-31' must score 0.45 — comparing normalize_date(x) == x was
    vacuous because invalid input is returned unchanged."""
    from br_doc_ocr_spark.core.extract import scan_fields

    _, _, sc = scan_fields("data: 2020-02-31")
    assert sc["data"] == 0.45
    _, _, sc = scan_fields("data: 2020-02-28")
    assert sc["data"] == 0.95


def test_uppercase_categoria_label_extracts():
    from br_doc_ocr_spark.core.extract import scan_fields

    assert scan_fields("CATEGORIA: AB")[0] == {"categoria_habilitacao": "AB"}


def test_crlf_document_separator_splits():
    from br_doc_ocr_spark.core.extract import segment_payload

    assert len(segment_payload("doc um valido\r\n---\r\ndoc dois valido")) == 2


def test_merged_hyphen_run_recovers_parts():
    """A date range tokenizes as one unclassifiable maximal run; the parts
    must be recovered with correct span offsets. Formatted values that
    classify intact must never split."""
    from br_doc_ocr_spark.core.extract import scan_fields

    t = "periodo 01/02/2020-05/02/2020"
    f, s, _ = scan_fields(t)
    assert f["data"] == "2020-02-01"
    assert [t[x["start"]:x["end"]] for x in s] == ["01/02/2020", "05/02/2020"]
    f, _, _ = scan_fields("CPF 123.456.789-01 RG 12.345.678-9")
    assert f["cpf"] == "123.456.789-01"
    assert f["registro_geral"] == "12.345.678-9"


def test_merged_run_recovery_limited_to_slash_formatted_parts():
    """Recovery from '-'-merged runs only claims '/'-formatted,
    validator-passing parts: an 11-digit serial fragment next to '-' is not
    a CPF claim (ADVICE r01 — CPF's format-normalizing validator would bless
    any digit run), while date ranges still recover, and calendar-invalid
    date parts do not."""
    from br_doc_ocr_spark.core.extract import scan_fields

    f, s, _ = scan_fields("serial 12345678901-1 ok")
    assert "cpf" not in f and s == []
    f, _, _ = scan_fields("periodo 01/02/2020-05/02/2020")
    assert f["data"] == "2020-02-01"
    f, s, _ = scan_fields("periodo 99/99/2020-88/88/2020")
    assert "data" not in f and s == []


def test_redact_text_masks_exact_spans():
    """PII scrubbing masks exactly the detected span ranges of the requested
    fields and leaves every other character untouched."""
    from br_doc_ocr_spark.core.extract import (
        DEFAULT_REDACT_FIELDS, extract_turn, redact_text, scan_fields)

    t = "CPF 123.456.789-00 valor R$ 10,50 CNPJ 12.345.678/0001-90 fim"
    fields, spans, _ = scan_fields(t)
    assert {"cpf", "cnpj", "valor"} <= set(fields)
    red = redact_text(t, spans, DEFAULT_REDACT_FIELDS)
    assert red == "CPF [CPF] valor R$ 10,50 CNPJ [CNPJ] fim"
    # non-identifier fields stay unless requested explicitly
    red_all = redact_text(t, spans, frozenset({"valor"}))
    assert red_all == "CPF 123.456.789-00 valor [VALOR] CNPJ 12.345.678/0001-90 fim"
    # extract_turn carries the column only when asked, over UNFILTERED spans
    row = extract_turn(t, redact_fields=DEFAULT_REDACT_FIELDS)
    assert row["redacted_text"] == red
    assert "redacted_text" not in extract_turn(t)


def test_redact_text_edge_cases():
    from br_doc_ocr_spark.core.extract import redact_text

    assert redact_text(None, [{"field": "cpf", "start": 0, "end": 1}],
                       frozenset({"cpf"})) is None
    assert redact_text("abc", [], frozenset({"cpf"})) == "abc"
    # adjacent spans splice cleanly; unknown fields ignored
    t = "1234567890123456789012345"
    spans = [{"field": "cpf", "start": 0, "end": 11},
             {"field": "cnpj", "start": 11, "end": 25},
             {"field": "nope", "start": 3, "end": 5}]
    assert redact_text(t, spans, frozenset({"cpf", "cnpj"})) == "[CPF][CNPJ]"


def test_redact_uses_unfiltered_spans_under_schema_projection():
    """A schema projection narrows the reported fields but must not skip
    scrubbing an identifier the scanner detected."""
    from br_doc_ocr_spark.core.extract import extract_turn

    t = "CPF 123.456.789-00 data 15/05/1990"
    row = extract_turn(t, allowed_fields=frozenset({"data"}),
                       redact_fields=frozenset({"cpf"}))
    assert "cpf" not in row["fields"]          # projected away
    assert "[CPF]" in row["redacted_text"]     # still scrubbed


def test_redaction_residual_audit_counts_escapes():
    """VERDICT r03 #5: span-based masking only scrubs what the scanner
    found — the residual audit re-scans the REDACTED text and counts any
    identifier of a redacted field that still matches. Adversarial
    near-misses (spaced CPF digits, fenced JSON, punctuation-split runs)
    must come back residuals=0 — either masked or never detectable — and a
    synthetic escape must be COUNTED, not silently passed."""
    from br_doc_ocr_spark.core.extract import (
        DEFAULT_REDACT_FIELDS,
        count_redaction_residuals,
        extract_turn,
    )

    adversarial = [
        "CPF 123.456.789-01 plain",                       # the normal case
        "CPF 1 2 3 . 4 5 6 . 7 8 9 - 0 1 spaced out",     # spaced digits
        '```json\n{"cpf": "123.456.789-01"}\n```',        # fenced JSON
        "cpf:123.456.789-01;cnpj:12.345.678/0001-90",     # punctuation-glued
        "12345678901 bare digits",                         # unformatted CPF
        "chave 12345678901234567890123456789012345678901234 fim",  # NFe key
        "CPF 123.456.789-01-123.456.789-02 merged run",   # '-'-merged pair
    ]
    for payload in adversarial:
        r = extract_turn(payload, redact_fields=DEFAULT_REDACT_FIELDS)
        assert r["redaction_residuals"] == 0, payload
        # and independently: re-scanning the redacted text finds nothing
        assert count_redaction_residuals(
            r["redacted_text"], DEFAULT_REDACT_FIELDS) == 0, payload

    # a hand-built escape IS counted (the audit is not vacuous)
    assert count_redaction_residuals(
        "leaked 123.456.789-01 here", DEFAULT_REDACT_FIELDS) == 1
    assert count_redaction_residuals(None, DEFAULT_REDACT_FIELDS) == 0


def test_redaction_residuals_ride_lineage(spark, tiny_transcripts_path):
    """The per-partition residual tally lands in lineage (counts only, no
    payload) and sums to zero over the fixture corpus."""
    from br_doc_ocr_spark import pipeline
    from br_doc_ocr_spark.core.extract import DEFAULT_REDACT_FIELDS

    results, lineage = pipeline.run_extraction(
        pipeline.read_transcripts(spark, tiny_transcripts_path),
        redact_fields=DEFAULT_REDACT_FIELDS)
    results.write.format("noop").mode("overwrite").save()
    got = lineage().toPandas()
    assert "redaction_residuals" in got.columns
    assert int(got["redaction_residuals"].sum()) == 0
    # non-redacting runs keep the lean schema
    _, plain = pipeline.run_extraction(
        pipeline.read_transcripts(spark, tiny_transcripts_path))
    assert "redaction_residuals" not in plain().columns
