"""Committed golden fixtures (FIXTURES.md §2): the kernel must keep
reproducing the checked-in goldens byte-for-byte — a regression lock across
refactors, independent of the in-process oracle (which shares code with the
kernel and therefore cannot catch a semantics drift on its own)."""

from __future__ import annotations

import json
from pathlib import Path

import pandas as pd

from br_doc_ocr_spark.core.extract import oracle_extract, oracle_extract_documents

FIXTURES = Path(__file__).parent / "fixtures"


def load_transcripts() -> pd.DataFrame:
    return pd.read_parquet(FIXTURES / "transcripts_tiny.parquet")


def test_kernel_reproduces_committed_golden():
    golden = pd.read_parquet(FIXTURES / "golden_extractions.parquet")
    got = oracle_extract(load_transcripts())
    assert len(got) == len(golden) == 548
    assert got["extracted_text"].tolist() == golden["extracted_text"].tolist()
    assert got["payload_kind"].tolist() == golden["payload_kind"].tolist()
    assert got["status"].tolist() == golden["status"].tolist()
    assert [json.dumps(m, sort_keys=True) for m in got["fields"]] == \
        golden["fields"].tolist()
    assert [json.dumps(s) for s in got["spans"]] == golden["spans"].tolist()
    assert [json.dumps(m, sort_keys=True) for m in got["confidence_scores"]] \
        == golden["confidence_scores"].tolist()


def test_multidoc_kernel_reproduces_committed_golden():
    golden = pd.read_parquet(FIXTURES / "golden_documents.parquet")
    got = oracle_extract_documents(load_transcripts())
    assert len(got) == len(golden) == 619
    assert got["extracted_text"].tolist() == golden["extracted_text"].tolist()
    assert got["n_docs"].tolist() == golden["n_docs"].tolist()
    assert [json.dumps(m, sort_keys=True) for m in got["fields"]] == \
        golden["fields"].tolist()


def test_spark_pipeline_reproduces_committed_golden(spark, tmp_path):
    from br_doc_ocr_spark import pipeline

    golden = pd.read_parquet(FIXTURES / "golden_extractions.parquet")
    results, _ = pipeline.run_extraction(
        pipeline.read_transcripts(
            spark, str(FIXTURES / "transcripts_tiny.parquet")))
    got = (results.toPandas()
           .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True))
    assert got["extracted_text"].tolist() == golden["extracted_text"].tolist()
    assert got["status"].tolist() == golden["status"].tolist()
    assert [json.dumps(dict(m), sort_keys=True) for m in got["fields"]] == \
        golden["fields"].tolist()
