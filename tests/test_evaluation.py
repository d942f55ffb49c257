"""Evaluation engine tests: hand-computed golden metrics over a small
pred/golden pair (mirrors the reference's evaluation.py unit expectations)."""

from __future__ import annotations

import pytest

from br_doc_ocr_spark import evaluation


@pytest.fixture(scope="module")
def pred_golden(spark):
    schema = ("conv_id string, turn_idx int, payload_kind string, "
              "extracted_text string, fields map<string,string>, status string")
    pred = spark.createDataFrame([
        ("c1", 0, "prose", "texto a", {"cpf": "123.456.789-00", "data": "1990-05-15"}, "success"),
        ("c1", 1, "html", "texto b", {"cpf": "111.111.111-11"}, "success"),
        ("c2", 0, "pdf", "texto c", {}, "failed"),
        ("c9", 9, "prose", "orphan", {}, "failed"),  # no golden row → dropped by J1
    ], schema)
    golden = spark.createDataFrame([
        # exact match
        ("c1", 0, "prose", "texto a", {"cpf": "123.456.789-00", "data": "1990-05-15"}, "success"),
        # cpf wrong value, missing expected field "valor"
        ("c1", 1, "html", "texto b", {"cpf": "222.222.222-22", "valor": "10.0"}, "success"),
        # both empty → vacuous exact match
        ("c2", 0, "pdf", "texto c", {}, "failed"),
    ], schema)
    return pred, golden


def test_pairing_is_inner_join_on_turn_key(spark, pred_golden):
    pred, golden = pred_golden
    paired = evaluation.pair_predictions(pred, golden)
    assert paired.count() == 3  # orphan dropped (J1 inner semantics)


def test_per_sample_metrics(spark, pred_golden):
    pred, golden = pred_golden
    m = evaluation.with_field_metrics(
        evaluation.pair_predictions(pred, golden)).collect()
    rows = {(r["conv_id"], r["turn_idx"]): r for r in m}
    exact = rows[("c1", 0)]
    assert exact["sample_exact"] == 1 and exact["f1"] == 1.0
    miss = rows[("c1", 1)]
    # union keys {cpf, valor}: 0 matched; precision 0/1, recall 0/2
    assert miss["n_fields_union"] == 2 and miss["n_fields_matched"] == 0
    assert miss["precision"] == 0.0 and miss["recall"] == 0.0 and miss["f1"] == 0.0
    empty = rows[("c2", 0)]
    assert empty["sample_exact"] == 1
    assert empty["precision"] == 1.0 and empty["recall"] == 1.0


def test_null_valued_pred_only_field_is_not_a_match(spark):
    """A spurious {"cpf": null} prediction against an empty golden must NOT
    score as a match: map[k] is NULL for missing keys AND null values, so a
    bare eqNullSafe over the key union scored it precision 1.0 /
    sample_exact 1 (review r05). The reference counts TP only over the key
    intersection (evaluation.py:221); a null value present in BOTH maps
    still matches (Python None == None)."""
    schema = ("conv_id string, turn_idx int, payload_kind string, "
              "extracted_text string, fields map<string,string>, status string")
    pred = spark.createDataFrame(
        [("c1", 0, "prose", "t", {"cpf": None}, "success"),
         ("c1", 1, "prose", "t", {"cpf": None}, "success")], schema)
    golden = spark.createDataFrame(
        [("c1", 0, "prose", "t", {}, "failed"),
         ("c1", 1, "prose", "t", {"cpf": None}, "success")], schema)
    m = evaluation.with_field_metrics(
        evaluation.pair_predictions(pred, golden)).collect()
    rows = {r["turn_idx"]: r for r in m}
    spurious = rows[0]          # pred-only null field vs empty golden
    assert spurious["n_fields_matched"] == 0
    assert spurious["sample_exact"] == 0
    assert spurious["precision"] == 0.0
    both_null = rows[1]         # null value present in BOTH maps
    assert both_null["n_fields_matched"] == 1
    assert both_null["sample_exact"] == 1
    assert both_null["precision"] == 1.0


def test_overall_and_per_kind(spark, pred_golden):
    pred, golden = pred_golden
    rep = evaluation.evaluate(pred, golden)
    overall = rep["overall"].collect()[0]
    assert overall["n_samples"] == 3
    assert overall["accuracy"] == pytest.approx(2 / 3, abs=1e-6)
    assert overall["text_accuracy"] == 1.0
    per_kind = {r["payload_kind"]: r for r in rep["per_kind"].collect()}
    assert per_kind["prose"]["accuracy"] == 1.0
    assert per_kind["html"]["accuracy"] == 0.0


def test_per_field_accuracy_sorted(spark, pred_golden):
    pred, golden = pred_golden
    rows = evaluation.field_accuracy(
        evaluation.pair_predictions(pred, golden)).collect()
    by_field = {r["field"]: r for r in rows}
    # cpf: match in c1/0, mismatch in c1/1 → 1/2
    assert by_field["cpf"]["total"] == 2 and by_field["cpf"]["accuracy"] == 0.5
    assert by_field["data"]["accuracy"] == 1.0
    assert by_field["valor"]["accuracy"] == 0.0   # expected-only field
    accs = [r["accuracy"] for r in rows]
    assert accs == sorted(accs, reverse=True)     # O1 report sort


def test_self_evaluation_is_perfect(spark, tiny_transcripts_path):
    """Extraction output evaluated against itself scores 1.0 everywhere —
    the identity gate the reference's mocked-VLM integration tests rely on."""
    from br_doc_ocr_spark import pipeline

    results, _ = pipeline.run_extraction(
        pipeline.read_transcripts(spark, tiny_transcripts_path))
    pred = results.select("conv_id", "turn_idx", "payload_kind",
                          "extracted_text", "fields", "status")
    rep = evaluation.evaluate(pred, pred)
    overall = rep["overall"].collect()[0]
    assert overall["accuracy"] == 1.0
    assert overall["avg_f1"] == 1.0


def test_schema_guided_extraction_filters_fields(spark, tiny_transcripts_path):
    """US4: a 2-field custom schema bounds the extracted field set
    (filter_to_schema semantics inside the kernel)."""
    from br_doc_ocr_spark import pipeline

    schema = {"type": "object",
              "properties": {"cpf": {"type": "string"},
                             "data_nascimento": {"type": "string",
                                                 "format": "date"}},
              "required": ["cpf"]}
    df = pipeline.read_transcripts(spark, tiny_transcripts_path)
    results, _ = pipeline.run_extraction(df, schema=schema)
    from pyspark.sql import functions as sf

    fields = (results.select(sf.explode(sf.map_keys("fields")).alias("f"))
              .distinct().collect())
    assert {r["f"] for r in fields} <= {"cpf", "data_nascimento", "data"}


def test_text_report_layout(spark, tiny_transcripts_path):
    """generate_evaluation_report mirrors the reference's report layout
    (evaluation.py:239-295): rules, overall block, per-kind (correct/total)
    lines, per-field lines sorted desc."""
    from br_doc_ocr_spark import pipeline
    from br_doc_ocr_spark.evaluation import evaluate, generate_evaluation_report

    results, _ = pipeline.run_extraction(
        pipeline.read_transcripts(spark, tiny_transcripts_path))
    report = evaluate(results, results)
    text = generate_evaluation_report(report)

    assert text.startswith("=" * 60)
    assert "Overall Accuracy: 100.00%" in text
    assert "Accuracy by Payload Kind:" in text and "Accuracy by Field:" in text
    assert "(" in text and "/" in text  # correct/total lines


def test_coverage_surfaces_unmatched_golden(spark):
    """An engine that lost most of its output must not silently score high:
    evaluate() reports golden rows with no prediction, and the text report
    warns (and survives a fully-empty pairing without crashing)."""
    from br_doc_ocr_spark.evaluation import evaluate, generate_evaluation_report

    golden = spark.createDataFrame(
        [("c", i, {"cpf": "1"}, "t", "success", "prose") for i in range(10)],
        "conv_id string, turn_idx int, fields map<string,string>, "
        "extracted_text string, status string, payload_kind string")
    pred = golden.filter("turn_idx = 0")  # 90% of predictions lost
    report = evaluate(pred, golden)
    cov = report["coverage"].first()
    assert cov["unmatched_golden"] == 9 and cov["golden_total"] == 10
    text = generate_evaluation_report(report)
    assert "WARNING" in text and "9/10" in text

    # fully-disjoint keys: report renders zeros instead of crashing
    none_pred = golden.filter("turn_idx < 0")
    text = generate_evaluation_report(evaluate(none_pred, golden))
    assert "Overall Accuracy: 0.00%" in text and "10/10" in text
