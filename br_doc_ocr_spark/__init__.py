"""br_doc_ocr_spark — a PySpark-native rebuild of the query/data-processing
surface of cristianocps/br-doc-ocr (reference snapshot at /root/reference).

Architecture (Spark-first, NOT a port):

- ``core/``      pure pandas/NumPy extraction kernel shared verbatim between the
                 single-threaded oracle and the Spark ``mapInPandas`` UDF — this
                 is what guarantees per-turn byte equality by construction.
- ``pipeline``   the batch DataFrame job: one range exchange on
                 (conv_id, turn_idx) that both splits hot conversations and
                 orders the output, one Arrow-batched extraction crossing,
                 per-partition lineage, idempotent writes.
- ``checkpoint`` manifest-based resumable runs (Iceberg-snapshot-compatible
                 layout over parquet; no Iceberg jars in the sandbox).
- ``ops/``       large-scale training-data operators: dedup (exact/MinHash-LSH/
                 SimHash/n-gram Jaccard), ANN similarity, text statistics.
- ``queries``    operator-parity query catalog mirrored by ANSI-SQL oracles
                 (driven through ``__spark_entry__.py``).

Reference parity map lives in SURVEY.md §2; each module docstring cites the
reference file:line it reproduces.
"""

__version__ = "0.1.0"

# Lazy top-level API mirroring the reference's lazy exports
# (``src/br_doc_ocr/__init__.py:57-84``, ``contracts/python-api.md``): the
# heavy Spark/pandas modules load only when the symbol is touched. The
# reference's ``extract()`` over one image becomes ``run_pipeline`` /
# ``run_extraction`` over a transcript table; ``evaluate()`` keeps its name.
__all__ = [
    "build_session",
    "run_extraction",
    "run_pipeline",
    "run_resumable",
    "extract_turn",
    "extract_one",
    "classify_one",
    "oracle_extract",
    "load_schema",
    "evaluate",
    "schemas",
    "redact_text",
    "curate_documents",
]

_EXPORTS = {
    "build_session": ("br_doc_ocr_spark.session", "build_session"),
    "run_extraction": ("br_doc_ocr_spark.pipeline", "run_extraction"),
    "run_pipeline": ("br_doc_ocr_spark.pipeline", "run_pipeline"),
    "run_resumable": ("br_doc_ocr_spark.checkpoint", "run_resumable"),
    "extract_turn": ("br_doc_ocr_spark.core.extract", "extract_turn"),
    "extract_one": ("br_doc_ocr_spark.core.extract", "extract_one"),
    "classify_one": ("br_doc_ocr_spark.core.extract", "classify_one"),
    "oracle_extract": ("br_doc_ocr_spark.core.extract", "oracle_extract"),
    "load_schema": ("br_doc_ocr_spark.core.schemas", "load_schema"),
    "redact_text": ("br_doc_ocr_spark.core.extract", "redact_text"),
    "curate_documents": ("br_doc_ocr_spark.ops.textstats",
                         "curate_documents"),
}


def __getattr__(name: str):
    """Lazy load heavy modules (reference ``__init__.py:57-84`` pattern)."""
    if name in _EXPORTS:
        import importlib

        module, attr = _EXPORTS[name]
        return getattr(importlib.import_module(module), attr)
    if name == "schemas":
        from br_doc_ocr_spark.core import schemas as _schemas

        return _schemas
    if name == "evaluate":
        from br_doc_ocr_spark.evaluation import evaluate as _evaluate

        return _evaluate
    # NB: the query catalog is NOT re-exported here — ``queries`` is a real
    # submodule name and the import machinery rebinds the package attribute
    # to the module on first import; reach it as br_doc_ocr_spark.queries
    # (module) or through __spark_entry__ (driver contract).
    raise AttributeError(f"module 'br_doc_ocr_spark' has no attribute {name!r}")
