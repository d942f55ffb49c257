"""Training-dataset export (M10/M12/M13/A8): conversation transform, type
filter, deterministic split, collate padding, metrics collector — golden
against a Python model replicating the reference adapter byte-for-byte
(services/dataset_adapter.py:57-96, tests/unit/test_dataset.py:63-230)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as sf

from br_doc_ocr_spark import dataset as ds


def _reference_transform(document_type: str, extracted: dict) -> dict:
    """Pure-Python model of the reference's transform_sample
    (dataset_adapter.py:57-96) — prompt strings and json.dumps format."""
    system = ("You are an expert document extraction assistant. "
              "Extract structured data from the document image and return "
              "valid JSON.")
    user = (f"Extract all relevant information from this {document_type} "
            "document. Return the extracted data as a JSON object.")
    assistant = json.dumps(extracted, ensure_ascii=False, indent=2)
    return {
        "messages": [
            {"role": "system", "content": system},
            {"role": "user", "content": user},
            {"role": "assistant", "content": assistant},
        ],
        "expected_output": extracted,
        "document_type": document_type,
    }


@pytest.fixture(scope="module")
def results(spark):
    rows = [
        (0, {"cnpj": "11.222.333/0001-81", "valor": "1234.56"}),   # invoice
        (1, {"rg": "12.345.678-9", "orgao_emissor": "SSP-SP"}),    # rg
        (2, {"categoria_habilitacao": "AB"}),                      # cnh
        (3, {}),                                                   # unknown
        (4, {"nome": 'Jo\\ão "quoted"'}),                          # escaping
        (5, {"nota": "line1\nline2\ttab\rret"}),                   # ctrl chars
        (6, {"ausente": None, "nome": "x"}),                       # null value
    ]
    return spark.createDataFrame(rows, "conv_id long, fields map<string,string>")


def test_transform_matches_reference_model(results):
    got = {r["conv_id"]: r for r in
           ds.to_training_samples(results).collect()}
    for conv_id, fields in [(0, {"cnpj": "11.222.333/0001-81",
                                 "valor": "1234.56"}),
                            (2, {"categoria_habilitacao": "AB"}),
                            (3, {}),
                            (4, {"nome": 'Jo\\ão "quoted"'}),
                            (5, {"nota": "line1\nline2\ttab\rret"}),
                            # NULL value renders as bare JSON null, never
                            # silently dropped (review r05)
                            (6, {"ausente": None, "nome": "x"})]:
        row = got[conv_id]
        # key-sorted canonicalization: map storage order is an engine
        # internal, so the graft renders entries in key order (the reference
        # uses dict insertion order — same bytes for ≤1-entry and sorted maps)
        canon = dict(sorted(fields.items()))
        want = _reference_transform(row["document_type"], canon)
        messages = [{"role": m["role"], "content": m["content"]}
                    for m in row["messages"]]
        assert messages == want["messages"], conv_id
        assert row["expected_output"] == json.dumps(
            canon, ensure_ascii=False, indent=2), conv_id


def test_transform_document_types(results):
    got = {r["conv_id"]: r["document_type"]
           for r in ds.to_training_samples(results).collect()}
    assert got == {0: "invoice", 1: "rg", 2: "cnh", 3: "unknown",
                   4: "unknown", 5: "unknown", 6: "unknown"}


def test_transform_conversation_shape(results):
    row = ds.to_training_samples(results).first()
    assert len(row["messages"]) == 3
    assert [m["role"] for m in row["messages"]] == ["system", "user",
                                                    "assistant"]


def test_filter_by_document_type(results):
    samples = ds.to_training_samples(results)
    assert ds.filter_by_document_type(samples, ["cnh"]).count() == 1
    assert ds.filter_by_document_type(samples, ["cnh", "rg"]).count() == 2


def test_split_dataset_disjoint_and_complete(spark):
    df = spark.range(1000).select(sf.col("id").alias("conv_id"))
    splits = ds.split_dataset(df, 0.8, 0.1, key_col="conv_id")
    assert set(splits) == {"train", "val", "test"}
    counts = {k: v.count() for k, v in splits.items()}
    assert sum(counts.values()) == 1000      # complete, no overlap (disjoint
    # residue ranges) — and roughly the requested ratios under hashing
    assert 700 <= counts["train"] <= 900
    assert 50 <= counts["val"] <= 160
    assert 50 <= counts["test"] <= 160
    # membership is recomputable: same split on a second run
    again = {k: {r["conv_id"] for r in v.collect()}
             for k, v in ds.split_dataset(df, 0.8, 0.1,
                                          key_col="conv_id").items()}
    first = {k: {r["conv_id"] for r in v.collect()} for k, v in splits.items()}
    assert again == first


def test_split_dataset_sub_percent_ratio(spark):
    """Ratios below 1% must still produce a populated split (the old
    whole-percent quantization rounded them to permanently empty)."""
    df = spark.range(10_000).select(sf.col("id").alias("conv_id"))
    splits = ds.split_dataset(df, train_ratio=0.004, val_ratio=0.1,
                              key_col="conv_id")
    n_train = splits["train"].count()
    assert 0 < n_train < 200
    assert sum(v.count() for v in splits.values()) == 10_000


def test_with_padded_ids_global_default_avoids_single_partition(spark):
    df = spark.createDataFrame(
        [(0, [1, 2]), (1, [3, 4, 5, 6]), (2, [7])],
        "row long, input_ids array<int>").repartition(4)
    out = {tuple(r["input_ids"]) for r in ds.with_padded_ids(df).collect()}
    assert out == {(1, 2, 0, 0), (3, 4, 5, 6), (7, 0, 0, 0)}
    plan = ds.with_padded_ids(df)._jdf.queryExecution().toString()
    assert "Window" not in plan  # global path must not use an empty window


def test_with_padded_ids_pads_to_group_max(spark):
    df = spark.createDataFrame(
        [(0, [1, 2, 3]), (0, [4, 5, 6, 7, 8]), (1, [9])],
        "batch long, input_ids array<int>")
    out = {tuple(r["input_ids"]) for r in
           ds.with_padded_ids(df, group_col="batch").collect()}
    assert out == {(1, 2, 3, 0, 0), (4, 5, 6, 7, 8), (9,)}


def test_metrics_collector_contract(tmp_path):
    mc = ds.MetricsCollector(run_id="run-7")
    assert mc.get_latest() is None
    mc.log(1, loss=1.5, accuracy=0.2)
    mc.log(2, loss=1.1, accuracy=0.4)
    assert [h["step"] for h in mc.get_history()] == [1, 2]
    assert mc.get_latest() == {"step": 2, "loss": 1.1, "accuracy": 0.4}
    p = tmp_path / "m.json"
    mc.save(p)
    assert json.loads(p.read_text()) == mc.get_history()


def test_metrics_collector_parquet_sink(spark, tmp_path):
    path = str(tmp_path / "hist")
    for run, losses in (("run-a", [1.5, 1.1]), ("run-b", [2.0])):
        mc = ds.MetricsCollector(run_id=run)
        for i, loss in enumerate(losses):
            mc.log(i + 1, loss=loss)
        mc.append_parquet(spark, path)
    hist = ds.read_metrics_history(spark, path).filter("run_id = 'run-a'")
    rows = {(r["step"], r["name"]): r["value"]
            for r in hist.collect()}
    assert rows == {(1, "loss"): 1.5, (2, "loss"): 1.1}
    assert ds.read_metrics_history(spark, path).count() == 3


def test_write_training_dataset_end_to_end(spark, results, tmp_path):
    counts = ds.write_training_dataset(results, str(tmp_path / "td"),
                                       key_col="conv_id")
    assert sum(counts.values()) == 7
    read_back = spark.read.json(str(tmp_path / "td") + "/train")
    assert {"conv_id", "document_type", "expected_output",
            "messages_json"} <= set(read_back.columns)
