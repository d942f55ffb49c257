"""Correctness gates. Every gate returns a list of failure strings; an empty
list is a pass. Each gate counts as one attempted operation and each
failing gate as one failed operation, however many messages it returns."""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd

GOLDEN_INPUT = os.path.join("tests", "fixtures", "transcripts_tiny.parquet")
GOLDEN_OUTPUT = os.path.join("tests", "fixtures", "golden_extractions.parquet")
KEY = ["conv_id", "turn_idx"]


def _plain(v):
    """Arrow/pandas container values → plain Python for JSON comparison."""
    if isinstance(v, dict):
        return {k: _plain(x) for k, x in v.items()}
    if isinstance(v, (list, tuple, np.ndarray)):
        items = [_plain(x) for x in v]
        # a map column arrives from Arrow as a list of (key, value) pairs
        if items and all(isinstance(x, tuple) and len(x) == 2 for x in v):
            return dict(items)
        return items
    if isinstance(v, np.integer):
        return int(v)
    if isinstance(v, np.floating):
        return float(v)
    return v


def canonical_rows(df: pd.DataFrame) -> pd.DataFrame:
    """Kernel output in the golden file's encoding: maps and span lists as
    JSON text (maps with sorted keys), sorted by (conv_id, turn_idx)."""
    out = df.sort_values(KEY).reset_index(drop=True)
    res = pd.DataFrame({
        "conv_id": out["conv_id"].astype(str),
        "turn_idx": out["turn_idx"].astype(int),
        "payload_kind": out["payload_kind"],
        "extracted_text": out["extracted_text"],
        "status": out["status"],
        "n_fields": out["n_fields"].astype(int),
        "fields": [json.dumps(_plain(m) or {}, sort_keys=True) for m in out["fields"]],
        "spans": [json.dumps([{"field": s["field"], "start": int(s["start"]),
                               "end": int(s["end"])} for s in _plain(v)])
                  for v in out["spans"]],
        "confidence_scores": [json.dumps(_plain(m) or {}, sort_keys=True)
                              for m in out["confidence_scores"]],
        "low_confidence_fields": [json.dumps(list(_plain(v))) for v in
                                  out["low_confidence_fields"]],
    })
    return res


def golden(results: pd.DataFrame) -> list[str]:
    """The committed golden extraction, reproduced through the pipeline."""
    got = canonical_rows(results)
    want = pd.read_parquet(GOLDEN_OUTPUT).sort_values(KEY).reset_index(drop=True)
    if len(got) != len(want):
        return [f"golden: {len(got)} rows, expected {len(want)}"]
    bad = [c for c in got.columns[2:] if got[c].tolist() != want[c].tolist()]
    return [f"golden: column {c} differs" for c in bad]


def oracle_sample(spark, output_path: str, transcripts: pd.DataFrame,
                  conv_ids: list[str]) -> list[str]:
    """Per-turn equality of the written output against the single-process
    oracle, on a sample of whole conversations."""
    from pyspark.sql import functions as sf

    from br_doc_ocr_spark.core.extract import oracle_extract

    got = (spark.read.parquet(output_path)
           .filter(sf.col("conv_id").isin(conv_ids)).toPandas())
    want = oracle_extract(transcripts[transcripts["conv_id"].isin(conv_ids)]
                          .reset_index(drop=True))
    got, want = canonical_rows(got), canonical_rows(want)
    if len(got) != len(want):
        return [f"oracle sample: {len(got)} rows, expected {len(want)}"]
    cols = [c for c in want.columns if got[c].tolist() != want[c].tolist()]
    return [f"oracle sample: column {c} differs" for c in cols]


def output_rows(spark, output_path: str, n_input: int) -> list[str]:
    """Row count equals the input; no (conv_id, turn_idx) key twice."""
    from pyspark.sql import functions as sf

    row = (spark.read.parquet(output_path).groupBy(*KEY).count()
           .agg(sf.sum("count").alias("rows"),
                sf.sum(sf.when(sf.col("count") > 1, 1).otherwise(0)).alias("dups"))
           .first())
    fails = []
    if int(row["rows"] or 0) != n_input:
        fails.append(f"output rows {row['rows']} != input {n_input}")
    if int(row["dups"] or 0):
        fails.append(f"{row['dups']} duplicate (conv_id, turn_idx) keys")
    return fails


def lineage(spark, lineage_path: str, n_input: int) -> tuple[list[str], dict]:
    """Lineage row_count sums to the input; returns the status counts."""
    from pyspark.sql import functions as sf

    cols = ["row_count", "success_count", "partial_count", "failed_count",
            "error_count"]
    lin = spark.read.parquet(lineage_path)
    row = lin.agg(*[sf.sum(c).alias(c) for c in cols],
                  sf.countDistinct("snapshot_id").alias("snapshots")).first()
    counts = {c: int(row[c] or 0) for c in cols}
    counts["snapshots"] = int(row["snapshots"])
    fails = []
    if counts["row_count"] != n_input:
        fails.append(f"lineage row_count sum {counts['row_count']} != input {n_input}")
    if sum(counts[c] for c in cols[1:]) != counts["row_count"]:
        fails.append("lineage status counts do not add up to row_count")
    return fails, counts


def no_error_turns(counts: dict) -> list[str]:
    """No turn of the repetition ended with status 'error' (from lineage)."""
    n = counts["error_count"]
    return [f"{n} rows with status 'error'"] if n else []


def manifest(manifest_path: str, n_buckets: int, invocations: int) -> list[str]:
    """Every bucket completed exactly once, one snapshot per invocation."""
    with open(manifest_path, encoding="utf-8") as f:
        completed = json.load(f)["completed"]
    buckets = [b for bs in completed.values() for b in bs]
    fails = []
    if sorted(buckets) != list(range(n_buckets)):
        fails.append(f"manifest buckets {sorted(buckets)} != 0..{n_buckets - 1} once each")
    if len(completed) != invocations:
        fails.append(f"manifest has {len(completed)} snapshots for {invocations} invocations")
    return fails


def oracle_query(got: pd.DataFrame, expected: pd.DataFrame) -> list[str]:
    """Spark result vs its DuckDB oracle, through the repository's own
    oracle canonicalization (tools/oracle_check.py)."""
    from tools.oracle_check import canonicalize

    ng, cg, rg = canonicalize(got)
    ne, ce, re_ = canonicalize(expected)
    if cg != ce:
        return [f"columns {cg} != {ce}"]
    if ng != ne:
        return [f"rows {ng} != {ne}"]
    if rg != re_:
        return ["values differ"]
    return []
