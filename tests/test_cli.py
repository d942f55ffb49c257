"""CLI integration layer (reference: tests/integration/test_cli_commands.py —
Typer CliRunner, exit codes, output shape). The graft CLI is argparse over
Spark jobs; each subcommand runs against the tiny corpus and must exit 0
with parseable JSON on stdout. The active pytest SparkSession is reused via
SparkSession.getActiveSession(), so no per-command session cost."""

from __future__ import annotations

import json

import pytest

from br_doc_ocr_spark import cli


def run_cli(capsys, *argv: str) -> dict | list | None:
    rc = cli.main(list(argv))
    assert rc == 0
    out = capsys.readouterr().out.strip().splitlines()
    return json.loads(out[-1]) if out else None


def test_extract_command(spark, tiny_transcripts_path, tmp_path, capsys):
    payload = run_cli(
        capsys, "extract", "--input", tiny_transcripts_path,
        "--output", str(tmp_path / "out"), "--lineage", str(tmp_path / "lin"))
    assert payload["output"].endswith("out")
    counts = payload["status_counts"]
    assert set(counts) <= {"success", "partial", "failed", "error"}
    assert sum(counts.values()) == 548  # every tiny-corpus turn accounted for


def test_extract_with_schema_and_cap(spark, tiny_transcripts_path, tmp_path,
                                     capsys):
    schema = tmp_path / "s.json"
    schema.write_text(json.dumps({
        "type": "object", "properties": {"cpf": {"type": "string"}},
        "required": ["cpf"]}))
    payload = run_cli(
        capsys, "extract", "--input", tiny_transcripts_path,
        "--output", str(tmp_path / "out"), "--schema", str(schema),
        "--max-payload-chars", "4000")
    assert sum(payload["status_counts"].values()) == 548
    got = spark.read.parquet(str(tmp_path / "out"))
    from pyspark.sql import functions as sf

    keys = {r[0] for r in
            got.select(sf.explode(sf.map_keys("fields"))).distinct().collect()}
    assert keys == {"cpf"}


def test_resume_command_completes_in_two_invocations(spark,
                                                     tiny_transcripts_path,
                                                     tmp_path, capsys):
    args = ["resume", "--input", tiny_transcripts_path,
            "--output", str(tmp_path / "out"),
            "--manifest", str(tmp_path / "m.json"), "--buckets", "4",
            "--max-buckets", "2"]
    first = run_cli(capsys, *args)
    assert len(first["processed_buckets"]) == 2
    assert len(first["pending_after"]) == 2
    second = run_cli(capsys, *args)
    assert second["pending_after"] == []
    third = run_cli(capsys, *args)  # idempotent no-op
    assert third["processed_buckets"] == []


def test_multidoc_command_counts_from_lineage(spark, tiny_transcripts,
                                              tiny_transcripts_path, tmp_path,
                                              capsys):
    """multidoc prints the document count of the kernel's own tally: the
    oracle's segment count, with no plan of the command scanning the
    output it has just written."""
    from br_doc_ocr_spark.core.extract import oracle_extract_documents
    from tests.test_pipeline_spark import _executions_during, _plan_nodes

    out = str(tmp_path / "docs")
    payload = {}
    store, ids = _executions_during(spark, lambda: payload.update(run_cli(
        capsys, "multidoc", "--input", tiny_transcripts_path,
        "--output", out)))
    assert payload["documents"] == len(
        oracle_extract_documents(tiny_transcripts))
    scans = [node.desc() for e in ids for node in _plan_nodes(store, e)
             if node.name().startswith("Scan")]
    assert any(tiny_transcripts_path in d for d in scans), scans
    assert not [d for d in scans if out in d], scans


def test_classify_command(spark, tiny_transcripts_path, capsys):
    payload = run_cli(capsys, "classify", "--input", tiny_transcripts_path)
    assert set(payload) <= {"html", "pdf", "prose", "unknown"}
    assert sum(v["n"] for v in payload.values()) == 548
    assert all(0.0 <= v["confidence"] <= 1.0 for v in payload.values())


def test_schemas_validate_command(spark, tmp_path, capsys):
    schema = tmp_path / "s.json"
    schema.write_text(json.dumps({
        "type": "object", "properties": {"cpf": {"type": "string"}}}))
    payload = run_cli(capsys, "schemas", "--validate", str(schema))
    assert payload["valid"] is True


def test_synth_command(spark, tmp_path, capsys):
    payload = run_cli(capsys, "synth", "--turns", "500",
                      "--output", str(tmp_path / "t.parquet"))
    assert payload["output"].endswith("t.parquet")
    # assert the WRITTEN table, not the CLI's echoed argument
    written = spark.read.parquet(str(tmp_path / "t.parquet"))
    assert written.count() == 500
    assert set(written.columns) == {"conv_id", "turn_idx", "role", "text",
                                    "tool", "ts"}


def test_evaluate_command_self_comparison(spark, tiny_transcripts_path,
                                          tmp_path, capsys):
    run_cli(capsys, "extract", "--input", tiny_transcripts_path,
            "--output", str(tmp_path / "pred"))
    payload = run_cli(capsys, "evaluate", "--predictions",
                      str(tmp_path / "pred"), "--golden", str(tmp_path / "pred"))
    assert payload["overall"]["accuracy"] == pytest.approx(1.0)


def test_extract_no_confidence_strips_columns(spark, tiny_transcripts_path,
                                              tmp_path, capsys):
    """P2 parity: --no-confidence drops the two confidence columns from the
    written output (reference cli/extract.py:130-137)."""
    run_cli(capsys, "extract", "--input", tiny_transcripts_path,
            "--output", str(tmp_path / "out"), "--no-confidence")
    cols = spark.read.parquet(str(tmp_path / "out")).columns
    assert "confidence_scores" not in cols
    assert "low_confidence_fields" not in cols
    assert "fields" in cols and "status" in cols


def test_extract_one_command(capsys):
    payload = run_cli(
        capsys, "extract-one",
        "--text", "NOTA CNPJ 11.222.333/0001-81 valor R$ 10,00")
    assert payload["document_type"] == "invoice"
    assert payload["status"] in ("success", "partial")
    assert "confidence_scores" in payload


def test_extract_one_no_confidence_and_file(tmp_path, capsys):
    f = tmp_path / "p.txt"
    f.write_text("RG 12.345.678-9 SSP-SP", encoding="utf-8")
    payload = run_cli(capsys, "extract-one", "--file", str(f),
                      "--no-confidence")
    assert payload["document_type"] == "rg"
    assert "confidence_scores" not in payload


def test_extract_one_requires_exactly_one_source(capsys):
    assert cli.main(["extract-one"]) == 2
    assert cli.main(["extract-one", "--text", "x", "--file", "y"]) == 2


def test_missing_schema_file_exits_cleanly(capsys):
    """A missing/invalid --schema must exit 2 with the error on stderr,
    matching the --redact contract — not escape main() as a raw traceback
    (review r05). Same for schemas --validate."""
    rc = cli.main(["extract-one", "--text", "x",
                   "--schema", "/nonexistent/s.json"])
    assert rc == 2
    assert "not found" in capsys.readouterr().err.lower()
    rc = cli.main(["schemas", "--validate", "/nonexistent/s.json"])
    assert rc == 2
    assert "not found" in capsys.readouterr().err.lower()


def test_dataset_command(spark, tiny_transcripts_path, tmp_path, capsys):
    """extract → dataset export round-trip: the written splits cover every
    extraction row and carry the conversation columns."""
    run_cli(capsys, "extract", "--input", tiny_transcripts_path,
            "--output", str(tmp_path / "res"))
    payload = run_cli(capsys, "dataset", "--input", str(tmp_path / "res"),
                      "--output", str(tmp_path / "td"))
    assert sum(payload["splits"].values()) == 548
    train = spark.read.json(str(tmp_path / "td") + "/train")
    assert {"document_type", "expected_output", "messages_json"} <= \
        set(train.columns)


def test_classify_text_single_record(capsys):
    payload = run_cli(capsys, "classify",
                      "--text", "NOTA CNPJ 11.222.333/0001-81 valor R$ 5,00")
    assert payload["document_type"] == "invoice"
    assert payload["confidence"] == 0.97


def test_classify_requires_input_or_text(capsys):
    assert cli.main(["classify"]) == 2


def test_classify_input_and_text_mutually_exclusive(capsys):
    assert cli.main(["classify", "--input", "x.parquet", "--text", "y"]) == 2


def test_extract_redact_flag(spark, tiny_transcripts_path, tmp_path, capsys):
    """--redact ids appends redacted_text with every identifier span masked;
    --redact with an explicit list masks only those fields."""
    payload = run_cli(
        capsys, "extract", "--input", tiny_transcripts_path,
        "--output", str(tmp_path / "out"), "--redact", "ids")
    assert sum(payload["status_counts"].values()) == 548
    got = spark.read.parquet(str(tmp_path / "out"))
    assert "redacted_text" in got.columns
    from pyspark.sql import functions as sf

    masked = got.filter(sf.col("redacted_text").contains("[CPF]")).count()
    assert masked > 0
    # formatted CPFs never survive in the masked column
    leaked = got.filter(sf.col("redacted_text").rlike(
        r"\d{3}\.\d{3}\.\d{3}-\d{2}")).count()
    assert leaked == 0


def test_curate_command(spark, tmp_path, capsys):
    """curate annotates the corpus, reports the drop-reason histogram, and
    --drop writes only kept documents with audit columns stripped."""
    docs = spark.createDataFrame([
        (1, "the quick brown fox jumps over the lazy dog and then walks "
            "away to find another quiet place to rest for a while"),
        (2, "tiny"),
        (3, "the cat sat " * 30),
    ], "doc_id long, text string")
    src = str(tmp_path / "docs")
    docs.write.parquet(src)

    payload = run_cli(
        capsys, "curate", "--input", src, "--output",
        str(tmp_path / "ann"), "--min-quality", "0.0")
    assert payload["total"] == 3 and payload["kept"] == 1
    assert payload["drop_reasons"].get("too_short") == 1
    assert payload["drop_reasons"].get("dup_ngrams") == 1
    ann = spark.read.parquet(str(tmp_path / "ann"))
    assert {"keep", "drop_reasons", "quality"} <= set(ann.columns)

    payload = run_cli(
        capsys, "curate", "--input", src, "--output",
        str(tmp_path / "kept"), "--min-quality", "0.0", "--drop")
    kept = spark.read.parquet(str(tmp_path / "kept"))
    assert payload["kept"] == kept.count() == 1
    assert "drop_reasons" not in kept.columns


def test_parse_redact_expands_and_validates():
    """'ids' expands inside a comma list (it previously matched only as the
    whole value, silently skipping the identifier set — ADVICE r03), and an
    unknown field name raises instead of silently redacting nothing."""
    from br_doc_ocr_spark.cli import _parse_redact
    from br_doc_ocr_spark.core.extract import DEFAULT_REDACT_FIELDS

    assert _parse_redact(None) is None
    assert _parse_redact("ids") == DEFAULT_REDACT_FIELDS
    assert _parse_redact("ids,valor") == DEFAULT_REDACT_FIELDS | {"valor"}
    assert _parse_redact(" cpf , data ") == frozenset({"cpf", "data"})
    with pytest.raises(ValueError, match="unknown field 'registro-geral'"):
        _parse_redact("registro-geral")


def test_extract_one_rejects_unknown_redact_field(capsys):
    """The CLI surfaces the bad --redact name as exit 2 + stderr, not a
    silently-successful unredacted run."""
    from br_doc_ocr_spark.cli import main

    rc = main(["extract-one", "--text", "CPF 123.456.789-01",
               "--redact", "cpfs"])
    assert rc == 2
    assert "unknown field 'cpfs'" in capsys.readouterr().err
