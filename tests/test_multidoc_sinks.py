"""Multi-document extraction (FR-015), JSON sinks, and classification
alternatives."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as sf

from br_doc_ocr_spark import pipeline
from br_doc_ocr_spark.core.extract import (
    extract_documents_batch,
    oracle_extract_documents,
    segment_payload,
)


def test_segment_payload():
    assert segment_payload("only one document here") == ["only one document here"]
    two = "CPF 123.456.789-00 nome A\n---\nCNPJ 12.345.678/0001-90 nome B"
    segs = segment_payload(two)
    assert len(segs) == 2 and segs[0].startswith("CPF")
    # short fragments dropped (min-size analog)
    assert segment_payload("a\n---\nthis one is long enough") == \
        ["this one is long enough"]
    assert segment_payload("") == [""]
    assert segment_payload("tiny\n---\nxs") == ["tiny\n---\nxs"]  # nothing survives → whole


def test_extract_documents_batch_golden():
    import pandas as pd

    df = pd.DataFrame({
        "conv_id": ["c1", "c1"],
        "turn_idx": [0, 1],
        "text": ["CPF 123.456.789-00 pessoa um\n---\nCPF 222.222.222-22 pessoa dois",
                 "sem separador CPF 111.111.111-11"],
    })
    out = extract_documents_batch(df)
    assert list(out["doc_idx"]) == [0, 1, 0]
    assert list(out["n_docs"]) == [2, 2, 1]
    assert out.iloc[0]["fields"]["cpf"] == "123.456.789-00"
    assert out.iloc[1]["fields"]["cpf"] == "222.222.222-22"  # multi-doc fixture shape
    assert set(out["status"]) == {"success"}


def test_extract_documents_batch_error_channel():
    """One bad row (NaN turn_idx — int(nan) raises) must surface as a
    status='error' row, not kill the whole partition: the flatMap kernel
    lacked the per-row error contract extract_batch has (review r05)."""
    import pandas as pd

    df = pd.DataFrame({
        "conv_id": ["c1", "c2"],
        "turn_idx": [0, float("nan")],
        "text": ["sem separador CPF 111.111.111-11", "qualquer texto"],
    })
    out = extract_documents_batch(df)
    assert list(out["status"]) == ["success", "error"]
    assert list(out["turn_idx"]) == [0, -1]
    assert out.iloc[1]["n_fields"] == 0


def test_extract_documents_batch_error_is_per_segment(monkeypatch):
    """A segment whose extraction raises becomes one error row; its sibling
    segments keep their results and the turn keeps its n_docs (the whole
    turn used to collapse into one error row with n_docs=1)."""
    import pandas as pd

    from br_doc_ocr_spark.core import extract as ex

    original = ex.extract_turn

    def exploding(text, allowed=None, redact=None):
        if text.startswith("BOOM"):
            raise RuntimeError("synthetic kernel failure")
        return original(text, allowed, redact)

    monkeypatch.setattr(ex, "extract_turn", exploding)
    df = pd.DataFrame({
        "conv_id": ["c1", "c2"],
        "turn_idx": [0, 1],
        "text": ["CPF 123.456.789-00 pessoa um\n---\nBOOM segmento dois"
                 "\n---\nCNPJ 12.345.678/0001-90 empresa",
                 "sem separador CPF 111.111.111-11"],
    })
    out = extract_documents_batch(df)
    assert list(out["turn_idx"]) == [0, 0, 0, 1]
    assert list(out["doc_idx"]) == [0, 1, 2, 0]
    assert list(out["n_docs"]) == [3, 3, 3, 1]
    assert list(out["status"]) == ["success", "error", "success", "success"]
    assert out.iloc[0]["fields"] == {"cpf": "123.456.789-00"}
    assert out.iloc[1]["fields"] == {} and out.iloc[1]["extracted_text"] == ""
    assert out.iloc[2]["fields"]["cnpj"] == "12.345.678/0001-90"


def test_spark_multidoc_matches_oracle(spark, tiny_transcripts,
                                       tiny_transcripts_path):
    got = (pipeline.run_multi_extraction(
        pipeline.read_transcripts(spark, tiny_transcripts_path))[0]
        .toPandas()
        .sort_values(["conv_id", "turn_idx", "doc_idx"]).reset_index(drop=True))
    expected = oracle_extract_documents(tiny_transcripts)
    assert len(got) == len(expected)
    assert len(got) > len(tiny_transcripts)  # synth embeds multi-doc payloads
    assert got["extracted_text"].tolist() == expected["extracted_text"].tolist()
    assert got["n_docs"].tolist() == expected["n_docs"].tolist()
    assert got["fields"].apply(dict).tolist() == expected["fields"].tolist()


def test_json_sinks_split_and_deterministic(spark, tiny_transcripts_path,
                                            tmp_path):
    results, _ = pipeline.run_extraction(
        pipeline.read_transcripts(spark, tiny_transcripts_path))
    out = str(tmp_path / "sink")
    pipeline.write_json_sinks(results, out)
    good = spark.read.json(f"{out}/results")
    assert good.count() == results.count()  # no kernel errors on synth data
    sample = json.loads(good.select("result_json").first()[0])
    # deterministic field order: conv_id first, status last
    keys = list(sample.keys())
    assert keys[0] == "conv_id" and keys[-1] == "status"
    from pyspark.errors.exceptions.captured import AnalysisException

    try:
        n_errors = spark.read.json(f"{out}/errors").count()
    except AnalysisException:
        n_errors = 0  # empty error sink may have no inferable schema
    assert n_errors == 0  # outside the try — a full error channel must fail


def test_classification_alternatives(spark, tiny_transcripts_path):
    results, _ = pipeline.run_extraction(
        pipeline.read_transcripts(spark, tiny_transcripts_path))
    classified = pipeline.with_classification(results)
    row = classified.select("payload_kind", "classify_confidence",
                            "classify_alternatives").first()
    alts = {a["kind"]: a["confidence"] for a in row["classify_alternatives"]}
    assert row["payload_kind"] not in alts          # own kind excluded
    assert len(alts) == 2
    assert all(c == pytest.approx((1 - 0.97) / 2, abs=1e-6)
               for c in alts.values())               # F24 residual spread
