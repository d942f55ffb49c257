"""Evaluation engine: predicted-vs-golden comparison and accuracy reports.

Reference parity (``/root/reference/src/br_doc_ocr/services/evaluation.py``):

- J1 pairing (``:43-78`` get_predictions): pred JOIN golden on the sample key
  — here an equi join on (conv_id, turn_idx), broadcast or shuffled by
  Spark's size-based join choice (``autoBroadcastJoinThreshold``, AQE);
- J2 field alignment (``:174-191``, ``:216-227``): the union of predicted and
  actual field names, compared per field — ``map_keys`` + ``array_union`` +
  ``transform``, no explode needed for the per-sample metrics;
- A1 overall accuracy (``:101-104``), A2 per-kind accuracy (``:124-157``),
  A3 per-field accuracy (``:160-199``), A4 precision/recall/F1 (``:202-236``),
  and the sorted report (``:239-295``).

Everything is built-in column expressions — partial aggregation, AQE, and
broadcast joins come free; nothing touches Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as sf

JOIN_KEYS = ["conv_id", "turn_idx"]


def pair_predictions(pred: DataFrame, golden: DataFrame) -> DataFrame:
    """J1: inner equi join on the turn key; golden columns suffixed _expected.

    Columns required on both sides: conv_id, turn_idx, fields
    (map<string,string>), extracted_text, status.
    """
    g = golden.select(
        *JOIN_KEYS,
        sf.col("fields").alias("fields_expected"),
        sf.col("extracted_text").alias("extracted_text_expected"),
        sf.col("status").alias("status_expected"),
    )
    return pred.join(g, on=JOIN_KEYS, how="inner")


def _aligned_keys(pred_map: Column, exp_map: Column) -> Column:
    """J2: sorted union of both maps' key sets."""
    return sf.array_sort(sf.array_union(sf.map_keys(pred_map),
                                        sf.map_keys(exp_map)))


def with_field_metrics(paired: DataFrame) -> DataFrame:
    """Per-sample field metrics: matched/total counts and the set-overlap
    precision/recall/F1 (A4, evaluation.py:202-236 — TP = value-matching
    fields PRESENT IN BOTH maps, denominator = each side's own key count).

    The both-sides requirement matters for NULL-valued map entries:
    ``map[k]`` is NULL for a missing key AND for a present-but-NULL value,
    so a bare eqNullSafe over the key union scored a spurious
    ``{"cpf": null}`` prediction against an empty golden as a perfect
    match — inflating precision and sample_exact (review r05). The
    reference counts TP only over ``pred_fields & actual_fields``
    (evaluation.py:221), which this reproduces. :func:`field_accuracy`
    deliberately KEEPS the union/.get() semantics — that is what the
    reference's per-field loop does (evaluation.py:187-191)."""
    keys = _aligned_keys(sf.col("fields"), sf.col("fields_expected"))
    matches = sf.filter(
        sf.transform(keys, lambda k: (
            sf.map_contains_key(sf.col("fields"), k)
            & sf.map_contains_key(sf.col("fields_expected"), k)
            & sf.col("fields")[k].eqNullSafe(sf.col("fields_expected")[k])
        ).cast("int")),
        lambda x: x == 1)
    n_match = sf.size(matches)
    n_pred = sf.size(sf.map_keys(sf.col("fields")))
    n_exp = sf.size(sf.map_keys(sf.col("fields_expected")))
    precision = sf.when(n_pred > 0, n_match / n_pred).otherwise(
        sf.when(n_exp == 0, sf.lit(1.0)).otherwise(sf.lit(0.0)))
    recall = sf.when(n_exp > 0, n_match / n_exp).otherwise(sf.lit(1.0))
    f1 = sf.when(precision + recall > 0,
                 2 * precision * recall / (precision + recall)).otherwise(sf.lit(0.0))
    return paired.withColumns({
        "n_fields_union": sf.size(keys),
        "n_fields_matched": n_match,
        "text_match": (sf.col("extracted_text")
                       .eqNullSafe(sf.col("extracted_text_expected"))).cast("int"),
        "sample_exact": sf.when(
            sf.size(keys) == n_match, sf.lit(1)).otherwise(sf.lit(0)),
        "precision": sf.round(precision, 6),
        "recall": sf.round(recall, 6),
        "f1": sf.round(f1, 6),
    })


def overall_accuracy(metrics: DataFrame) -> DataFrame:
    """A1: global exact-sample accuracy + text equality + mean P/R/F1."""
    return metrics.agg(
        sf.count("*").alias("n_samples"),
        sf.round(sf.avg("sample_exact"), 6).alias("accuracy"),
        sf.round(sf.avg("text_match"), 6).alias("text_accuracy"),
        sf.round(sf.avg("precision"), 6).alias("avg_precision"),
        sf.round(sf.avg("recall"), 6).alias("avg_recall"),
        sf.round(sf.avg("f1"), 6).alias("avg_f1"),
    )


def accuracy_per_kind(metrics: DataFrame) -> DataFrame:
    """A2 per-type accuracy (document_type → payload_kind in the graft),
    sorted desc like the report (evaluation.py:124-157, cli/evaluate.py:131)."""
    return (metrics.groupBy("payload_kind")
            .agg(sf.count("*").alias("total"),
                 sf.sum("sample_exact").alias("correct"),
                 sf.round(sf.avg("sample_exact"), 6).alias("accuracy"))
            .orderBy(sf.desc("accuracy"), sf.asc("payload_kind")))


def field_accuracy(paired: DataFrame) -> DataFrame:
    """A3: per-field-name accuracy across the key union — explode both maps
    (full-outer join on field name within a row), then group by field
    (evaluation.py:160-199), sorted desc (the report, :278-282)."""
    keys = _aligned_keys(sf.col("fields"), sf.col("fields_expected"))
    exploded = paired.select(
        sf.explode(keys).alias("field"),
        sf.col("fields"), sf.col("fields_expected"),
    ).select(
        "field",
        (sf.col("fields")[sf.col("field")]
         .eqNullSafe(sf.col("fields_expected")[sf.col("field")]))
        .cast("int").alias("correct"),
    )
    return (exploded.groupBy("field")
            .agg(sf.count("*").alias("total"),
                 sf.sum("correct").alias("correct"),
                 sf.round(sf.avg("correct"), 6).alias("accuracy"))
            .orderBy(sf.desc("accuracy"), sf.asc("field")))


def evaluate(pred: DataFrame, golden: DataFrame,
             persist: bool = False) -> dict[str, DataFrame]:
    """Full evaluation report — the Spark rendering of ``cli evaluate``
    (cli/evaluate.py:19-184): overall, per-kind, per-field, plus a coverage
    frame. The pairing join is INNER (matching the reference, whose samples
    always carry both sides), so ``coverage`` surfaces what the join would
    otherwise hide: golden rows with NO prediction — an engine that lost 90%
    of its output must not score 100% unnoticed.

    Spark picks the pairing join by size: a golden under
    ``autoBroadcastJoinThreshold`` is broadcast, a larger one (10^7 rows)
    is shuffled on the turn key instead of collected to every executor.

    ``persist=True`` caches the pairing join so collecting several report
    frames scans the predictions table ONCE instead of re-running the join
    per frame (overall/per_kind/per_field each consume it — review r05);
    call :func:`unpersist_evaluation` on the returned dict when done. Left
    False by default so single-frame consumers (the catalog query reads
    only ``per_kind``) don't leak a session-lifetime cache entry."""
    paired = pair_predictions(pred, golden)
    if persist:
        from pyspark import StorageLevel

        paired = paired.persist(StorageLevel.MEMORY_AND_DISK)
    metrics = with_field_metrics(paired)
    unmatched = golden.join(pred, on=JOIN_KEYS, how="left_anti")
    coverage = unmatched.agg(
        sf.count("*").alias("unmatched_golden")).crossJoin(
        golden.agg(sf.count("*").alias("golden_total")))
    out = {
        "overall": overall_accuracy(metrics),
        "per_kind": accuracy_per_kind(metrics),
        "per_field": field_accuracy(paired),
        "coverage": coverage,
    }
    if persist:
        out["_paired"] = paired  # unpersist handle (unpersist_evaluation)
    return out


def unpersist_evaluation(report: dict[str, DataFrame]) -> None:
    """Release the pairing cache of an ``evaluate(..., persist=True)``
    report. No-op for unpersisted reports."""
    paired = report.get("_paired")
    if paired is not None:
        paired.unpersist()


def generate_evaluation_report(report: dict[str, DataFrame]) -> str:
    """Human-readable text report — byte-layout parity with the reference's
    ``generate_evaluation_report`` (evaluation.py:239-295): header rule,
    overall block, per-type lines as ``accuracy (correct/total)``, per-field
    lines sorted by accuracy desc, closing rule. Collects only the
    aggregated frames (a few rows), never row-level data."""
    overall = report["overall"].collect()[0].asDict()
    per_kind = report["per_kind"].collect()
    per_field = report["per_field"].collect()
    coverage = (report["coverage"].collect()[0].asDict()
                if "coverage" in report else None)

    # empty pairing → avg() aggregates are null; report zeros instead of
    # crashing on None.__format__ at the exact diagnostic moment that needs
    # a readable report
    accuracy = overall["accuracy"] if overall["accuracy"] is not None else 0.0
    lines = [
        "=" * 60,
        "br-doc-ocr-spark - Extraction Evaluation Report",
        "=" * 60,
        "",
        f"Overall Accuracy: {accuracy:.2%}",
        f"Total Samples: {overall['n_samples']}",
        f"Correct Samples: {sum(r['correct'] for r in per_kind)}",]
    if coverage is not None and coverage["unmatched_golden"]:
        lines.append(
            f"WARNING - golden rows with no prediction: "
            f"{coverage['unmatched_golden']}/{coverage['golden_total']}")
    lines += [
        "",
        "Accuracy by Payload Kind:",
        "-" * 40,
    ]
    for r in per_kind:
        lines.append(f"  {r['payload_kind']}: {r['accuracy']:.2%} "
                     f"({r['correct']}/{r['total']})")
    lines.extend(["", "Accuracy by Field:", "-" * 40])
    for r in per_field:  # field_accuracy is already sorted desc
        lines.append(f"  {r['field']}: {r['accuracy']:.2%}")
    lines.extend(["", "=" * 60])

    return "\n".join(lines)
