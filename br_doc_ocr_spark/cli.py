"""spark-submit entry points (the reference's Typer CLI surface,
``cli/main.py:78-276``, rebuilt as Spark jobs).

Cluster usage (the north rule's packaging contract):

    zip -r brdoc.zip br_doc_ocr_spark
    spark-submit --py-files brdoc.zip -m br_doc_ocr_spark.cli ...

or locally:

    python -m br_doc_ocr_spark.cli extract --input t.parquet --output out/ \
        --lineage lineage/
    python -m br_doc_ocr_spark.cli resume  --input t.parquet --output out/ \
        --manifest m.json --buckets 64
    python -m br_doc_ocr_spark.cli synth   --turns 1000000 --output t.parquet

On a real cluster drop ``--cpus`` and let ``spark-submit --num-executors``
govern parallelism — the session builder only forces ``local[N]`` when no
master is configured.
"""

from __future__ import annotations

import argparse
import json
import sys


def _session(args):
    from pyspark.sql import SparkSession

    from br_doc_ocr_spark.session import build_session

    active = SparkSession.getActiveSession()
    if active is not None:  # under spark-submit with a configured master
        return active
    return build_session(cpus=args.cpus)


def _add_table_format_args(p) -> None:
    """Input-reader selection, shared by every table-reading subcommand."""
    p.add_argument("--table-format", default=None,
                   choices=("parquet", "iceberg"),
                   help="input table format (default parquet; a resume "
                        "defaults to the manifest's recorded pin); iceberg "
                        "needs the iceberg-spark-runtime jar on the cluster")
    p.add_argument("--snapshot-id", type=int, default=None,
                   help="Iceberg time travel: read this table snapshot")


def _parse_redact(value: str | None) -> frozenset[str] | None:
    """Shared --redact parser: None passthrough, else a comma list
    (whitespace-tolerant) where any element may be 'ids' = the identifier
    set. Unknown field names raise: a typo ('registro-geral') would
    otherwise silently redact nothing while the command appears to succeed
    (ADVICE r03)."""
    if not value:
        return None
    from br_doc_ocr_spark.core.extract import DEFAULT_REDACT_FIELDS, KNOWN_FIELDS

    out: set[str] = set()
    for f in value.split(","):
        f = f.strip()
        if not f:
            continue
        if f == "ids":
            out |= DEFAULT_REDACT_FIELDS
        elif f in KNOWN_FIELDS:
            out.add(f)
        else:
            raise ValueError(
                f"--redact: unknown field {f!r}; known fields: "
                f"{', '.join(sorted(KNOWN_FIELDS))} (or 'ids')")
    return frozenset(out) if out else None


def _load_schema(value: str | None) -> dict | None:
    """Shared --schema loader: None passthrough, else the schema from the
    JSON string or file. A missing or invalid schema raises ValueError
    (SchemaError subclasses it), which the commands print to stderr and exit
    2 on, like --redact — never a raw traceback (review r05)."""
    if not value:
        return None
    from br_doc_ocr_spark.core.schemas import load_schema

    return load_schema(value)


def cmd_extract(args) -> int:
    from br_doc_ocr_spark.pipeline import run_pipeline

    spark = _session(args)
    try:
        schema = _load_schema(args.schema)
        redact = _parse_redact(args.redact)
    except ValueError as e:
        print(e, file=sys.stderr)
        return 2
    _, lineage = run_pipeline(
        spark, args.input, output_path=args.output,
        lineage_path=args.lineage, run_id=args.run_id,
        max_payload_chars=args.max_payload_chars, schema=schema,
        drop_confidence=args.no_confidence, redact_fields=redact,
        table_format=args.table_format, read_snapshot_id=args.snapshot_id)
    # the write's own lineage: no second pass over the output
    rows = lineage().collect()
    summary = {s: n for s in ("success", "partial", "failed", "error")
               if (n := sum(r[f"{s}_count"] for r in rows))}
    print(json.dumps({"output": args.output, "status_counts": summary}))
    return 0


def cmd_extract_one(args) -> int:
    """Single-record extraction (the reference's POST /extract /
    single-file CLI path) — kernel-direct, no Spark session spun up."""
    from br_doc_ocr_spark.core.extract import extract_one

    if (args.text is None) == (args.file is None):
        print("exactly one of --text / --file is required", file=sys.stderr)
        return 2
    text = args.text
    if args.file is not None:
        try:
            with open(args.file, encoding="utf-8") as f:
                text = f.read()
        except (OSError, UnicodeDecodeError) as e:
            # directories, permissions, non-UTF-8 — same clean exit path as
            # a missing file, never a traceback
            print(f"cannot read {args.file}: {e}", file=sys.stderr)
            return 2
    try:
        schema = _load_schema(args.schema)
        redact = _parse_redact(getattr(args, "redact", None))
    except ValueError as e:
        print(e, file=sys.stderr)
        return 2
    result = extract_one(text, schema=schema, document_type=args.document_type,
                         confidence=not args.no_confidence,
                         multi_document=args.multi_document,
                         redact_fields=redact)
    print(json.dumps(result, ensure_ascii=False))
    statuses = ([r["status"] for r in result]
                if isinstance(result, list) else [result["status"]])
    # exit 4 on failure like the reference CLI (cli/extract.py:164-178)
    return 0 if all(s != "failed" for s in statuses) else 4


def cmd_resume(args) -> int:
    from br_doc_ocr_spark.checkpoint import run_resumable

    spark = _session(args)
    summary = run_resumable(
        spark, args.input, args.output, args.manifest,
        lineage_path=args.lineage, n_buckets=args.buckets,
        run_id=args.run_id,
        max_buckets_per_snapshot=args.max_buckets,
        table_format=args.table_format, read_snapshot_id=args.snapshot_id)
    print(json.dumps(summary))
    return 0


def cmd_multidoc(args) -> int:
    """FR-015: one output row per detected document segment."""
    from br_doc_ocr_spark.pipeline import read_transcripts, run_multi_extraction

    spark = _session(args)
    documents, lineage = run_multi_extraction(
        read_transcripts(spark, args.input,
                         table_format=args.table_format,
                         snapshot_id=args.snapshot_id))
    # already in (conv_id, turn_idx, doc_idx) order: written as it comes
    documents.write.mode("overwrite").parquet(args.output)
    n = sum(r["row_count"] for r in lineage().collect())
    print(json.dumps({"output": args.output, "documents": n}))
    return 0


def cmd_classify(args) -> int:
    """Payload-kind classification summary (reference `classify` command);
    with --text, single-record classification (POST /classify analog,
    kernel-direct, no Spark session)."""
    if args.text is not None and args.input is not None:
        print("--input and --text are mutually exclusive", file=sys.stderr)
        return 2
    if args.text is not None:
        from br_doc_ocr_spark.core.extract import classify_one

        print(json.dumps(classify_one(args.text), ensure_ascii=False))
        return 0
    if args.input is None:
        print("one of --input / --text is required", file=sys.stderr)
        return 2
    from pyspark.sql import functions as sf

    from br_doc_ocr_spark.pipeline import (
        read_transcripts,
        run_extraction,
        with_classification,
    )

    spark = _session(args)
    results, _ = run_extraction(read_transcripts(
        spark, args.input, table_format=args.table_format,
        snapshot_id=args.snapshot_id))
    summary = (with_classification(results)
               .groupBy("payload_kind")
               .agg(sf.count("*").alias("n"),
                    sf.round(sf.avg("classify_confidence"), 4).alias("confidence"))
               .collect())
    print(json.dumps({r["payload_kind"]: {"n": r["n"], "confidence": r["confidence"]}
                      for r in summary}))
    return 0


def cmd_evaluate(args) -> int:
    """Score predictions vs a golden extraction table (reference `evaluate`)."""
    from br_doc_ocr_spark import evaluation

    spark = _session(args)
    pred = spark.read.parquet(args.predictions)
    golden = spark.read.parquet(args.golden)
    # persist: three frames below collect from the same pairing join —
    # cached, the predictions scan + join run once (review r05)
    report = evaluation.evaluate(pred, golden, persist=True)
    try:
        overall = report["overall"].collect()[0].asDict()
        per_kind = [r.asDict() for r in report["per_kind"].collect()]
        per_field = [r.asDict() for r in report["per_field"].collect()]
    finally:
        evaluation.unpersist_evaluation(report)
    print(json.dumps({"overall": overall, "per_kind": per_kind,
                      "per_field": per_field}))
    # ≥0.90 accuracy gate, exit 1 below target (cli/evaluate.py:174-180);
    # an empty/disjoint pairing yields accuracy NULL → fail the gate, don't
    # TypeError on None >= float
    accuracy = overall.get("accuracy")
    return 0 if accuracy is not None and accuracy >= args.target else 1


def cmd_schemas(args) -> int:
    """List / validate extraction schemas (reference `schemas` command)."""
    from br_doc_ocr_spark.core import schemas as S

    if args.validate:
        try:
            schema = S.load_schema(args.validate)
        except ValueError as e:
            print(e, file=sys.stderr)
            return 2
        print(json.dumps(S.validate_schema(schema)))
        return 0
    out = [{"type": name, "title": s.get("title"),
            "fields": S.all_fields(s), "required": S.required_fields(s)}
           for name, s in S.BUILTIN_SCHEMAS.items()]
    print(json.dumps(out))
    return 0


def cmd_dataset(args) -> int:
    """Training-dataset export: extraction results → conversation-format
    JSONL splits (reference dataset adapter, services/dataset_adapter.py)."""
    from br_doc_ocr_spark import dataset as ds

    spark = _session(args)
    results = spark.read.parquet(args.input)
    types = [t.strip() for t in args.types.split(",")
             if t.strip()] if args.types else None
    counts = ds.write_training_dataset(
        results, args.output, types=types, train_ratio=args.train_ratio,
        val_ratio=args.val_ratio, key_col=args.key_col)
    print(json.dumps({"output": args.output, "splits": counts}))
    return 0


def cmd_curate(args) -> int:
    """Corpus curation: annotate every document with the composed
    pretraining-filter verdict (token bounds, quality floor, repetition
    ceilings, language allowlist), write the result, and report the
    drop-reason histogram — the audit number a curation run is judged by."""
    from pyspark.sql import functions as sf

    from br_doc_ocr_spark.ops.textstats import curate_documents

    spark = _session(args)
    docs = spark.read.parquet(args.input)
    langs = (tuple(l.strip() for l in args.langs.split(",") if l.strip())
             if args.langs else None)
    out = curate_documents(
        docs, text_col=args.text_col,
        min_tokens=args.min_tokens, max_tokens=args.max_tokens,
        min_quality=args.min_quality,
        max_dup_line_frac=args.max_dup_line_frac,
        max_dup_ngram_frac=args.max_dup_ngram_frac,
        allowed_langs=langs)
    # the full stats stack (tokenize, 24-language argmax, n-gram arrays) is
    # the expensive part — materialize it ONCE for the write AND the audit
    # aggregates instead of recomputing per action (DISK_ONLY: in-heap
    # columnar caching of wide text rows OOMs the heap, SCALE.md #4)
    from pyspark import StorageLevel

    out = out.persist(StorageLevel.DISK_ONLY)
    try:
        if args.drop:
            out.filter("keep").drop("drop_reasons", "keep").write.mode(
                "overwrite").parquet(args.output)
        else:
            out.write.mode("overwrite").parquet(args.output)
        total = out.count()
        kept = out.filter("keep").count()
        reasons = {r["r"]: r["n"] for r in
                   out.select(sf.explode("drop_reasons").alias("r"))
                   .groupBy("r").agg(sf.count("*").alias("n")).collect()}
    finally:
        out.unpersist()
    print(json.dumps({"output": args.output, "total": total, "kept": kept,
                      "dropped": total - kept,
                      "drop_reasons": dict(sorted(reasons.items()))}))
    return 0


def cmd_compact(args) -> int:
    """Small-file compaction (Iceberg rewrite_data_files analog): rewrite a
    parquet table at a target file size, optionally re-sorted for read
    locality."""
    from br_doc_ocr_spark.pipeline import compact_parquet

    spark = _session(args)
    stats = compact_parquet(
        spark, args.input, args.output,
        target_file_mb=args.target_file_mb,
        sort_cols=tuple(c.strip() for c in args.sort_by.split(",")
                        if c.strip()) if args.sort_by else (),
        small_file_ratio=args.small_file_ratio)
    print(json.dumps({"output": args.output, **stats}))
    return 0


def cmd_synth(args) -> int:
    from br_doc_ocr_spark.synth import synth_to_parquet

    spark = _session(args)
    synth_to_parquet(spark, args.turns, args.output)
    print(json.dumps({"output": args.output, "turns": args.turns}))
    return 0


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="br-doc-ocr-spark")
    parser.add_argument("--cpus", type=int, default=None,
                        help="local[N] when no master configured")
    sub = parser.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("extract", help="one-shot extraction job")
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--lineage")
    p.add_argument("--run-id", default="run-0")
    p.add_argument("--max-payload-chars", type=int, default=None,
                   help="cap payload length before the kernel (resize analog)")
    p.add_argument("--schema", default=None,
                   help="schema-guided extraction (US4): JSON-Schema as a "
                        "dict-literal string or a file path")
    p.add_argument("--no-confidence", action="store_true",
                   help="strip confidence_scores/low_confidence_fields from "
                        "the output (reference --confidence off, "
                        "cli/extract.py:130-137)")
    p.add_argument("--redact", default=None, metavar="FIELDS",
                   help="append a redacted_text column with detected spans "
                        "of these fields masked; comma-separated field "
                        "names, or 'ids' for the identifier set "
                        "(cpf,cnpj,registro_geral,chave_acesso)")
    _add_table_format_args(p)
    p.set_defaults(func=cmd_extract)

    p = sub.add_parser("extract-one",
                       help="single-record extraction (POST /extract analog; "
                            "kernel-direct, no Spark session)")
    p.add_argument("--text", help="payload text (mutually exclusive with --file)")
    p.add_argument("--file", help="path to a payload text file")
    p.add_argument("--schema", default=None)
    p.add_argument("--document-type", default=None,
                   choices=["cnh", "rg", "invoice"])
    p.add_argument("--no-confidence", action="store_true")
    p.add_argument("--multi-document", action="store_true")
    p.add_argument("--redact", default=None, metavar="FIELDS",
                   help="add a redacted_text key (comma list or 'ids')")
    p.set_defaults(func=cmd_extract_one)

    p = sub.add_parser("resume", help="manifest-checkpointed resumable job")
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--manifest", required=True)
    p.add_argument("--lineage")
    p.add_argument("--buckets", type=int, default=64)
    p.add_argument("--run-id", default="run-0")
    p.add_argument("--max-buckets", type=int, default=None,
                   help="bound one invocation's snapshot size")
    _add_table_format_args(p)
    p.set_defaults(func=cmd_resume)

    p = sub.add_parser("multidoc", help="multi-document extraction (FR-015)")
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    _add_table_format_args(p)
    p.set_defaults(func=cmd_multidoc)

    p = sub.add_parser("classify", help="payload-kind classification summary "
                                        "(or one record via --text)")
    p.add_argument("--input")
    p.add_argument("--text", help="classify a single payload (no Spark)")
    _add_table_format_args(p)
    p.set_defaults(func=cmd_classify)

    p = sub.add_parser("evaluate", help="score predictions vs golden")
    p.add_argument("--predictions", required=True)
    p.add_argument("--golden", required=True)
    p.add_argument("--target", type=float, default=0.90,
                   help="accuracy gate (exit 1 below)")
    p.set_defaults(func=cmd_evaluate)

    p = sub.add_parser("schemas", help="list or validate extraction schemas")
    p.add_argument("--validate", help="schema file/JSON to validate")
    p.set_defaults(func=cmd_schemas)

    p = sub.add_parser("dataset",
                       help="export conversation-format training dataset "
                            "from extraction results")
    p.add_argument("--input", required=True,
                   help="extraction results parquet (needs a fields map)")
    p.add_argument("--output", required=True)
    p.add_argument("--types", default=None,
                   help="comma-separated document types to keep")
    p.add_argument("--train-ratio", type=float, default=0.8)
    p.add_argument("--val-ratio", type=float, default=0.1)
    p.add_argument("--key-col", default="conv_id")
    p.set_defaults(func=cmd_dataset)

    p = sub.add_parser("curate", help="corpus curation: composed "
                                      "pretraining filter with reason audit")
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--text-col", default="text")
    p.add_argument("--min-tokens", type=int, default=8)
    p.add_argument("--max-tokens", type=int, default=100_000)
    p.add_argument("--min-quality", type=float, default=0.3)
    p.add_argument("--max-dup-line-frac", type=float, default=0.30)
    p.add_argument("--max-dup-ngram-frac", type=float, default=0.50)
    p.add_argument("--langs", default=None,
                   help="comma-separated language allowlist (e.g. en,pt,und)")
    p.add_argument("--drop", action="store_true",
                   help="write only kept documents (annotation columns "
                        "stripped) instead of the annotated full corpus")
    p.set_defaults(func=cmd_curate)

    p = sub.add_parser("compact", help="small-file compaction "
                                       "(rewrite_data_files analog)")
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--target-file-mb", type=int, default=512)
    p.add_argument("--small-file-ratio", type=float, default=0.75,
                   help="only files below ratio×target are rewritten; "
                        "well-sized files are copied through untouched")
    p.add_argument("--sort-by", default=None,
                   help="comma-separated columns to re-sort within output "
                        "files (read locality), e.g. conv_id,turn_idx")
    p.set_defaults(func=cmd_compact)

    p = sub.add_parser("synth", help="generate synthetic transcripts")
    p.add_argument("--turns", type=int, required=True)
    p.add_argument("--output", required=True)
    p.set_defaults(func=cmd_synth)

    args = parser.parse_args(argv)
    return args.func(args)


if __name__ == "__main__":
    sys.exit(main())
