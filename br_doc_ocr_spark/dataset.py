"""Training-dataset export: the reference's dataset adapter + metrics
collector (``services/dataset_adapter.py``, ``services/training.py:90-113``)
rebuilt Spark-first.

- :func:`to_training_samples` — the conversation-format transform
  (``transform_sample``, dataset_adapter.py:57-96) as pure column
  expressions: a 3-message system/user/assistant array, ``expected_output``
  rendered exactly like ``json.dumps(..., ensure_ascii=False, indent=2)``,
  and a field-derived ``document_type``. Runs at scan speed over billions of
  extraction rows — no Python, no shuffle.
- :func:`filter_by_document_type` / :func:`split_dataset` — dataset
  curation; the split is the hash-residue rule (exact membership, any
  engine can recompute it — unlike Bernoulli ``randomSplit``).
- :func:`with_padded_ids` — the collate pad-to-max op (M13,
  dataset_adapter.py:180-237): pads token arrays to the max length within a
  batch group via one window max.
- :class:`MetricsCollector` — step-indexed training metrics
  (``training.py:90-113``) with a Spark append sink for durable history.
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as sf

# Reference prompt strings, byte-for-byte (dataset_adapter.py:73-82).
SYSTEM_MESSAGE = (
    "You are an expert document extraction assistant. "
    "Extract structured data from the document image and return valid JSON."
)
USER_MESSAGE_PREFIX = "Extract all relevant information from this "
USER_MESSAGE_SUFFIX = " document. Return the extracted data as a JSON object."


def document_type_from_fields(fields: Column) -> Column:
    """Field-presence document type — the columnar twin of
    ``core.extract._document_type_of``, GENERATED from the same
    ``_DOC_TYPE_HINTS`` table so the two decisions cannot drift."""
    from functools import reduce

    from br_doc_ocr_spark.core.extract import _DOC_TYPE_HINTS

    expr = sf.lit("unknown")
    for doc_type, hints in reversed(_DOC_TYPE_HINTS):
        present = reduce(
            lambda a, b: a | b,
            (sf.map_contains_key(fields, sf.lit(k)) for k in sorted(hints)))
        expr = sf.when(present, doc_type).otherwise(expr)
    return expr


def _json_escape(c: Column) -> Column:
    # JSON string escaping for the shorthand set json.dumps uses
    # (backslash FIRST, then quote and the control shorthands); other
    # sub-0x20 control characters are not produced by the kernel and are
    # the one documented divergence from json.dumps (\\u00XX form)
    out = sf.replace(c, sf.lit("\\"), sf.lit("\\\\"))
    for raw, esc in (('"', '\\"'), ("\n", "\\n"), ("\r", "\\r"),
                     ("\t", "\\t"), ("\b", "\\b"), ("\f", "\\f")):
        out = sf.replace(out, sf.lit(raw), sf.lit(esc))
    return out


def json_indent2(fields: Column) -> Column:
    """Render a map<string,string> exactly like Python's
    ``json.dumps(d, ensure_ascii=False, indent=2)`` (the assistant-message
    format, dataset_adapter.py:83): ``{}`` when empty, else one
    ``  "k": "v"`` line per entry, comma-joined. Entries render in KEY
    order — map storage order is an engine internal (Arrow round-trips
    reorder it), so the deterministic canonicalization replaces the
    reference's dict insertion order."""
    # NULL values render as bare JSON null, exactly like json.dumps — a
    # plain concat would be NULL for the whole entry and array_join SKIPS
    # NULL elements, silently dropping the field from the training sample
    # (review r05)
    entries = sf.transform(
        sf.sort_array(sf.map_entries(fields)),
        lambda e: sf.concat(
            sf.lit('  "'), _json_escape(e["key"]), sf.lit('": '),
            sf.when(e["value"].isNull(), sf.lit("null")).otherwise(
                sf.concat(sf.lit('"'), _json_escape(e["value"]),
                          sf.lit('"')))))
    return sf.when(sf.size(entries) == 0, sf.lit("{}")).otherwise(
        sf.concat(sf.lit("{\n"), sf.array_join(entries, ",\n"), sf.lit("\n}")))


def to_training_samples(results: DataFrame) -> DataFrame:
    """Conversation-format training samples from extraction results (M10).

    One row per input row with ``messages`` (array<struct<role,content>> —
    the reference's 3-message list), ``expected_output`` (indent-2 JSON of
    the extracted ``fields``), and ``document_type`` (derived from the
    fields, see :func:`document_type_from_fields`). The multimodal payload
    column stays alongside if present (the reference carries ``image``
    through, dataset_adapter.py:92)."""
    fields = sf.col("fields")
    doc_type = document_type_from_fields(fields)
    assistant = json_indent2(fields)
    user = sf.concat(sf.lit(USER_MESSAGE_PREFIX), doc_type,
                     sf.lit(USER_MESSAGE_SUFFIX))
    msg = lambda role, content: sf.struct(  # noqa: E731
        sf.lit(role).alias("role") if isinstance(role, str) else role,
        content.alias("content"))
    return results.withColumns({
        "document_type": doc_type,
        "expected_output": assistant,
        "messages": sf.array(
            msg("system", sf.lit(SYSTEM_MESSAGE)),
            msg("user", user),
            msg("assistant", assistant)),
    })


def filter_by_document_type(df: DataFrame, types: list[str]) -> DataFrame:
    """dataset_adapter.py:119-139 — keep only the requested types."""
    return df.filter(sf.col("document_type").isin(types))


def split_dataset(df: DataFrame, train_ratio: float = 0.8,
                  val_ratio: float = 0.1,
                  key_col: str = "conv_id") -> dict[str, DataFrame]:
    """train/val/test split with EXACT recomputable membership: a row's split
    is ``pmod(xxhash64(key), 1_000_000)`` against cutoffs of
    ``round(ratio * 1e6)`` — any engine can re-derive it, samples never
    overlap or vanish (the two reference
    invariants, tests/unit/test_dataset.py:152-191), and membership is
    stable under re-runs and repartitioning (Bernoulli ``randomSplit`` is
    neither). Cutoffs quantize at 10^-6 granularity, so sub-percent ratios
    (train_ratio=0.004) produce a real split instead of silently rounding
    to empty."""
    if train_ratio < 0 or val_ratio < 0 or train_ratio + val_ratio > 1:
        raise ValueError(
            f"split ratios must be non-negative with train+val <= 1; got "
            f"train={train_ratio}, val={val_ratio} (test would be "
            f"{1 - train_ratio - val_ratio:.6f})")
    mod = 1_000_000
    r = sf.pmod(sf.xxhash64(sf.col(key_col)), sf.lit(mod))
    # round, not truncate: int() alone misquantizes ~0.17% of exact
    # 10^-6-granular ratios one bucket low (0.000498 → 497)
    train_cut = int(round(train_ratio * mod))
    val_cut = train_cut + int(round(val_ratio * mod))
    return {
        "train": df.filter(r < train_cut),
        "val": df.filter((r >= train_cut) & (r < val_cut)),
        "test": df.filter(r >= val_cut),
    }


def with_padded_ids(df: DataFrame, group_col: str | None = None) -> DataFrame:
    """Collate pad-to-max (M13, dataset_adapter.py:198-206): pad each
    ``input_ids`` array to the max length of its batch group (``group_col``;
    the whole frame when None) with 0. With a group column: one window max —
    a bounded per-group aggregate. Without one: the global max is computed
    as a scalar aggregate and broadcast back (NOT an unpartitioned window,
    which would funnel every row into a single task)."""
    size_col = sf.size(sf.col("input_ids"))
    if group_col:
        from pyspark.sql import Window

        maxlen = sf.max(size_col).over(Window.partitionBy(group_col))
        padded = sf.concat(
            sf.col("input_ids"), sf.array_repeat(sf.lit(0), maxlen - size_col))
        return df.withColumn("input_ids", padded)
    max_df = df.agg(sf.max(size_col).alias("_maxlen"))
    out = df.crossJoin(sf.broadcast(max_df))
    padded = sf.concat(
        sf.col("input_ids"),
        sf.array_repeat(sf.lit(0), sf.col("_maxlen") - size_col))
    return out.withColumn("input_ids", padded).drop("_maxlen")


def write_training_dataset(results: DataFrame, output_dir: str,
                           types: list[str] | None = None,
                           train_ratio: float = 0.8,
                           val_ratio: float = 0.1,
                           key_col: str = "conv_id") -> dict[str, int]:
    """End-to-end export job: transform → optional type filter → split →
    one JSONL directory per split. Returns per-split row counts."""
    from pyspark import StorageLevel

    samples = to_training_samples(results)
    if types:
        samples = filter_by_document_type(samples, types)
    # persist ONCE: the three splits are filters over this same frame, and
    # without it each split write recomputes the whole transform (plus any
    # upstream extraction) from scratch — three full passes instead of one
    # at the module's billions-of-rows scale (review r04)
    samples = samples.persist(StorageLevel.DISK_ONLY)
    try:
        out = {}
        for name, part in split_dataset(samples, train_ratio, val_ratio,
                                        key_col).items():
            path = f"{output_dir}/{name}"
            (part.select(key_col, "document_type", "expected_output",
                         sf.to_json(sf.col("messages")).alias("messages_json"))
             .write.mode("overwrite").json(path))
            # explicit one-column schema: schema inference would re-read the
            # whole split once just to discover columns we already know
            out[name] = (part.sparkSession.read
                         .schema("document_type string").json(path).count())
        return out
    finally:
        samples.unpersist()


class MetricsCollector:
    """Step-indexed training metrics (``training.py:90-113`` parity: log /
    get_history / get_latest / save), plus a Spark sink — history rows
    append to a parquet table partitioned by run so dashboards and the
    lineage reconcile queries can read it like any other table."""

    def __init__(self, run_id: str = "run-0") -> None:
        self.run_id = run_id
        self.history: list[dict[str, Any]] = []

    def log(self, step: int, **metrics: Any) -> None:
        self.history.append({"step": step, **metrics})

    def get_history(self) -> list[dict[str, Any]]:
        return self.history

    def get_latest(self) -> dict[str, Any] | None:
        return self.history[-1] if self.history else None

    def save(self, path) -> None:
        from pathlib import Path

        Path(path).write_text(json.dumps(self.history, indent=2))

    def append_parquet(self, spark, path: str) -> None:
        """Durable sink: (run_id, step, name, value) rows, appended.
        Long-form so heterogeneous metric sets across steps need no schema
        evolution; partitioned by run_id for pruned reads. NUMERIC metrics
        only (bools and strings are logged history, not table metrics —
        ``save()`` preserves them; this sink documents the drop)."""
        rows = [(self.run_id, h["step"], k, float(v))
                for h in self.history
                for k, v in h.items()
                if k != "step" and isinstance(v, (int, float))
                and not isinstance(v, bool)]
        df = spark.createDataFrame(
            rows, "run_id string, step int, name string, value double")
        df.write.mode("append").partitionBy("run_id").parquet(path)


def read_metrics_history(spark, path: str, run_id: str | None = None) -> DataFrame:
    df = spark.read.parquet(path)
    return df.filter(sf.col("run_id") == run_id) if run_id else df
