"""Resume semantics: interrupted runs pick up exactly the pending buckets and
the final output equals a single uninterrupted run (and the oracle)."""

from __future__ import annotations

import json

import pandas as pd
import pytest

from br_doc_ocr_spark import checkpoint
from br_doc_ocr_spark.core.extract import oracle_extract
from tests.conftest import part_file_bytes, spark_jobs_of


@pytest.fixture()
def paths(tmp_path):
    return {
        "out": str(tmp_path / "out.parquet"),
        "manifest": str(tmp_path / "manifest.json"),
        "lineage": str(tmp_path / "lineage.parquet"),
    }


def test_resume_in_three_snapshots_equals_oracle(spark, tiny_transcripts,
                                                 tiny_transcripts_path, paths):
    n_buckets = 6
    summaries = []
    for _ in range(4):  # 3 snapshots of 2 buckets + one no-op call
        s = checkpoint.run_resumable(
            spark, tiny_transcripts_path, paths["out"], paths["manifest"],
            lineage_path=paths["lineage"], n_buckets=n_buckets,
            max_buckets_per_snapshot=2)
        summaries.append(s)
    assert summaries[0]["processed_buckets"] == [0, 1]
    assert summaries[1]["processed_buckets"] == [2, 3]
    assert summaries[2]["pending_after"] == []
    assert summaries[3] == {"processed_buckets": [], "pending_after": [],
                            "rows": 0}

    got = (spark.read.parquet(paths["out"])
           .drop("bucket").toPandas()
           .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True))
    expected = oracle_extract(tiny_transcripts)
    assert len(got) == len(expected)
    assert got["extracted_text"].tolist() == expected["extracted_text"].tolist()
    assert got["status"].tolist() == expected["status"].tolist()

    # lineage carries one snapshot id per invocation that did work
    lineage = spark.read.parquet(paths["lineage"]).toPandas()
    assert set(lineage["snapshot_id"]) == {"snap-00000", "snap-00001", "snap-00002"}
    assert lineage["row_count"].sum() == len(expected)


def test_run_resumable_job_budget(spark, tiny_transcripts_path, paths):
    """Job budget: one run_resumable invocation that processes every bucket
    runs 4 Spark jobs (the same shape as run_pipeline's: the range
    exchange's sampling and map-stage jobs, the bucketed write and the
    lineage write; the input is read with its declared schema, so no
    schema-inference job runs); one with nothing pending runs none. A change
    that adds or removes a job must change these numbers."""
    def invocation():
        checkpoint.run_resumable(
            spark, tiny_transcripts_path, paths["out"], paths["manifest"],
            lineage_path=paths["lineage"])

    assert spark_jobs_of(spark, invocation) == 4
    assert spark_jobs_of(spark, invocation) == 0  # nothing left pending


def test_invocation_writes_each_bucket_from_the_tasks_that_hold_it(
        spark, tiny_transcripts_path, paths):
    """File and task lock: the range leads with the bucket, so each task
    holds a run of consecutive buckets and writes a file only into those;
    only a bucket cut by a task boundary gets a second file. One invocation
    thus writes at most (buckets written + kernel tasks - 1) files, where a
    range on (conv_id, turn_idx) alone had every task write into every
    bucket (tasks × buckets). The tiny fixture runs in one wave of the 4
    task slots."""
    import glob

    checkpoint.run_resumable(
        spark, tiny_transcripts_path, paths["out"], paths["manifest"],
        lineage_path=paths["lineage"])
    tasks = spark.read.parquet(paths["lineage"]).count()
    files = glob.glob(f"{paths['out']}/bucket=*/*.parquet")
    buckets = {f.split("/")[-2] for f in files}
    assert tasks == 4
    # premise: more buckets than tasks, so one file per task and bucket
    # would break the bound several times over
    assert len(buckets) > tasks
    assert len(files) <= len(buckets) + tasks - 1, sorted(files)


def test_invocation_balances_hot_conversation(spark, tiny_transcripts,
                                              tiny_transcripts_path, paths):
    """Skew lock: conv-heavy holds over half of the fixture's turns, and
    its bucket is cut at sampled turn boundaries like any other range, so
    no kernel task of the invocation gets more than 1.1× the mean rows
    (lineage row_count) — run_extraction's bound."""
    heavy = (tiny_transcripts["conv_id"] == "conv-heavy").sum()
    assert heavy > len(tiny_transcripts) / 2  # premise: one hot key
    checkpoint.run_resumable(
        spark, tiny_transcripts_path, paths["out"], paths["manifest"],
        lineage_path=paths["lineage"])
    rows = spark.read.parquet(paths["lineage"]).toPandas()["row_count"]
    assert rows.sum() == len(tiny_transcripts)
    assert len(rows) == 4  # one wave of task slots
    assert rows.max() / rows.mean() <= 1.1, sorted(rows)


def test_turn_idx_width_gives_identical_bucket_output(spark, tiny_transcripts,
                                                      tmp_path):
    """A table with int32 turn_idx and one with int64 turn_idx give
    byte-identical bucket files: both read as int (FIXTURES.md §1)."""
    outputs = []
    for width in ("int32", "int64"):
        src = str(tmp_path / f"{width}.parquet")
        tiny_transcripts.astype(
            {"turn_idx": width, "ts": "datetime64[us]"}).to_parquet(
                src, index=False)
        out = str(tmp_path / width / "out")
        checkpoint.run_resumable(spark, src, out,
                                 str(tmp_path / width / "manifest.json"),
                                 n_buckets=4)
        outputs.append(part_file_bytes(out))
    assert len({d for d, _ in outputs[0]}) == 4
    assert outputs[0] == outputs[1]


def test_zero_bucket_slice_still_reports_pending(spark, tiny_transcripts_path,
                                                 paths):
    """max_buckets_per_snapshot=0 slices pending to empty; pending_after
    must report the FULL pending set, not the slice — a resume loop
    terminating on empty pending_after would otherwise exit believing the
    run complete with zero buckets processed (review r05)."""
    s = checkpoint.run_resumable(
        spark, tiny_transcripts_path, paths["out"], paths["manifest"],
        n_buckets=4, max_buckets_per_snapshot=0)
    assert s["processed_buckets"] == []
    assert s["pending_after"] == [0, 1, 2, 3]
    assert s["rows"] == 0


def test_rows_reported_without_lineage(spark, tiny_transcripts_path, paths):
    """rows must reflect the processed output even when lineage is off —
    a run that wrote millions of rows reporting rows=0 misleads resume
    loops and operators (review r05)."""
    s = checkpoint.run_resumable(spark, tiny_transcripts_path, paths["out"],
                                 paths["manifest"], n_buckets=4)
    assert s["rows"] == spark.read.parquet(paths["out"]).count() > 0


def test_bucket_files_are_ordered(spark, tiny_transcripts_path, paths):
    """Every bucket file, read with pandas, holds its turns in (conv_id,
    turn_idx) order — the one sort on (bucket, conv_id, turn_idx) orders
    the files the bucketed writer cuts."""
    import glob

    from tests.conftest import sorted_in_file_order

    checkpoint.run_resumable(spark, tiny_transcripts_path, paths["out"],
                             paths["manifest"], n_buckets=4)
    files = sorted(glob.glob(f"{paths['out']}/bucket=*/*.parquet"))
    assert len({f.split("/")[-2] for f in files}) == 4
    for f in files:
        assert sorted_in_file_order([f]), f


def test_lineage_not_duplicated_across_crash_window(spark,
                                                    tiny_transcripts_path,
                                                    paths):
    """Crash BETWEEN the lineage write and record_snapshot: the resume
    regenerates the same snapshot id and must REPLACE its lineage
    partition, not append a second identical batch that double-counts
    row totals (review r05 — mode('append') did exactly that)."""
    checkpoint.run_resumable(
        spark, tiny_transcripts_path, paths["out"], paths["manifest"],
        lineage_path=paths["lineage"], n_buckets=4,
        max_buckets_per_snapshot=2)
    first = spark.read.parquet(paths["lineage"]).toPandas()
    # simulate the crash: lineage was written, the manifest commit was not
    with open(paths["manifest"], encoding="utf-8") as f:
        m = json.load(f)
    del m["completed"]["snap-00000"]
    with open(paths["manifest"], "w", encoding="utf-8") as f:
        json.dump(m, f)
    checkpoint.run_resumable(
        spark, tiny_transcripts_path, paths["out"], paths["manifest"],
        lineage_path=paths["lineage"], n_buckets=4,
        max_buckets_per_snapshot=2)
    again = spark.read.parquet(paths["lineage"]).toPandas()
    assert set(again["snapshot_id"]) == {"snap-00000"}
    assert again["row_count"].sum() == first["row_count"].sum()  # not doubled


def test_rerun_of_completed_bucket_is_idempotent(spark, tiny_transcripts_path,
                                                 paths):
    checkpoint.run_resumable(spark, tiny_transcripts_path, paths["out"],
                             paths["manifest"], n_buckets=4)
    first = spark.read.parquet(paths["out"]).count()
    # wipe the manifest → forces reprocessing of ALL buckets over existing output
    with open(paths["manifest"], encoding="utf-8") as f:
        m = json.load(f)
    m["completed"] = {}
    with open(paths["manifest"], "w", encoding="utf-8") as f:
        json.dump(m, f)
    checkpoint.run_resumable(spark, tiny_transcripts_path, paths["out"],
                             paths["manifest"], n_buckets=4)
    assert spark.read.parquet(paths["out"]).count() == first  # no duplicates


def test_manifest_refuses_mixed_partition_spec(spark, tiny_transcripts_path,
                                               paths):
    checkpoint.run_resumable(spark, tiny_transcripts_path, paths["out"],
                             paths["manifest"], n_buckets=4)
    with pytest.raises(ValueError, match="refusing to mix"):
        checkpoint.run_resumable(spark, tiny_transcripts_path, paths["out"],
                                 paths["manifest"], n_buckets=8)


def test_conversation_never_splits_across_snapshots(spark, tiny_transcripts,
                                                    tiny_transcripts_path,
                                                    paths):
    """The real done/pending-boundary invariant: after ANY snapshot commit,
    every conversation present in the output is COMPLETE (all its input
    turns, no partials) — a conv processed half-in-snapshot-1,
    half-in-snapshot-2 would show a partial count here. (Checking
    bucket-nunique per conv would be tautological: the written bucket column
    is recomputed from conv_id.)"""
    input_counts = tiny_transcripts.groupby("conv_id").size()
    seen_convs: set[str] = set()
    for _ in range(3):  # 3 snapshots of 2 buckets each (n_buckets=6)
        checkpoint.run_resumable(spark, tiny_transcripts_path, paths["out"],
                                 paths["manifest"], n_buckets=6,
                                 max_buckets_per_snapshot=2)
        out = (spark.read.parquet(paths["out"])
               .groupBy("conv_id").count().toPandas()
               .set_index("conv_id")["count"])
        for conv, n in out.items():
            assert n == input_counts[conv], f"partial conversation {conv}"
        # convs only ever ACCUMULATE — a later snapshot never rewrites one
        assert seen_convs <= set(out.index)
        seen_convs = set(out.index)
    assert seen_convs == set(input_counts.index)  # all convs exactly once


def test_empty_pending_buckets_complete_without_wedging(spark, tmp_path):
    """Regression: a snapshot over buckets holding ZERO rows (input hashing
    into few buckets) crashed on lineage write (CANNOT_INFER_EMPTY_SCHEMA
    via a toPandas round-trip) BEFORE the manifest commit — the resume loop
    then retried the same empty buckets forever."""
    import pandas as pd

    # one conversation → exactly one non-empty bucket out of 8
    df = pd.DataFrame({
        "conv_id": ["only-conv"] * 4, "turn_idx": range(4),
        "role": ["user"] * 4, "text": ["CPF 123.456.789-01"] * 4,
        "tool": [""] * 4,
        "ts": pd.to_datetime(["2026-01-01"] * 4).astype("datetime64[us]"),
    })
    path = str(tmp_path / "t.parquet")
    df.to_parquet(path, index=False)

    pending = None
    for _ in range(8):  # one bucket per snapshot; 7 of them are EMPTY
        s = checkpoint.run_resumable(
            spark, path, str(tmp_path / "out"), str(tmp_path / "m.json"),
            lineage_path=str(tmp_path / "lin"), n_buckets=8,
            max_buckets_per_snapshot=1)
        pending = s["pending_after"]
    assert pending == []  # completed — no wedge
    assert spark.read.parquet(str(tmp_path / "out")).count() == 4


def test_manifest_records_and_defends_input_pin(spark, tiny_transcripts_path,
                                                paths):
    """The first invocation's input pin (table_format / read_snapshot_id) is
    persisted; a resume that passes a CONFLICTING pin raises instead of
    silently mixing rows from two input snapshots under one manifest."""
    checkpoint.run_resumable(spark, tiny_transcripts_path, paths["out"],
                             paths["manifest"], n_buckets=4,
                             max_buckets_per_snapshot=1)
    with open(paths["manifest"], encoding="utf-8") as f:
        m = json.load(f)
    assert m["table_format"] == "parquet"
    assert m["read_snapshot_id"] is None

    # resume with a conflicting explicit snapshot pin → loud failure
    with pytest.raises(ValueError, match="mix rows from two input snapshots"):
        checkpoint.run_resumable(spark, tiny_transcripts_path, paths["out"],
                                 paths["manifest"], n_buckets=4,
                                 read_snapshot_id=42)
    # resume with a conflicting table format → loud failure
    with pytest.raises(ValueError, match="table_format"):
        checkpoint.run_resumable(spark, tiny_transcripts_path, paths["out"],
                                 paths["manifest"], n_buckets=4,
                                 table_format="iceberg")
    # omitting the pin defaults to the stored one and completes the run
    s = checkpoint.run_resumable(spark, tiny_transcripts_path, paths["out"],
                                 paths["manifest"], n_buckets=4)
    assert s["pending_after"] == []


def test_manifest_pinned_snapshot_defaults_on_resume(tmp_path):
    """Unit-level: a manifest created under a pinned snapshot hands the pin
    back to an unpinned resume, and record_snapshot round-trips it."""
    path = str(tmp_path / "m.json")
    m = checkpoint.Manifest.load_or_create(path, "run-0", 4)
    fmt, snap = m.resolve_input_pin("iceberg", 99, loaded=False)
    assert (fmt, snap) == ("iceberg", 99)
    m.record_snapshot("snap-00000", [0, 1])

    m2 = checkpoint.Manifest.load_or_create(path, "run-0", 4)
    assert (m2.table_format, m2.read_snapshot_id) == ("iceberg", 99)
    # unpinned resume inherits the stored pin
    assert m2.resolve_input_pin("iceberg", None, loaded=True) == ("iceberg", 99)
    # same explicit pin passes through
    assert m2.resolve_input_pin("iceberg", 99, loaded=True) == ("iceberg", 99)
    with pytest.raises(ValueError, match="mix rows"):
        m2.resolve_input_pin("iceberg", 100, loaded=True)


def test_legacy_manifest_without_pin_adopts_callers_format(tmp_path):
    """A manifest written before input pins existed carries no table_format
    key; resuming it must adopt (and persist) the caller's format instead of
    hard-failing against a phantom 'parquet' pin (review r04)."""
    import json

    path = str(tmp_path / "legacy.json")
    with open(path, "w", encoding="utf-8") as f:
        json.dump({"run_id": "run-0", "n_buckets": 4,
                   "completed": {"snap-00000": [0, 1]}}, f)
    m = checkpoint.Manifest.load_or_create(path, "run-0", 4)
    assert m.table_format is None  # legacy = unpinned, not 'parquet'
    fmt, snap = m.resolve_input_pin("iceberg", 77, loaded=True)
    assert (fmt, snap) == ("iceberg", 77)
    assert m.table_format == "iceberg"  # adopted for the next commit
    m.record_snapshot("snap-00001", [2])
    m2 = checkpoint.Manifest.load_or_create(path, "run-0", 4)
    assert m2.table_format == "iceberg"
    assert m2.read_snapshot_id == 77


def test_resume_with_omitted_format_uses_stored_pin(tmp_path):
    """The stored pin wins when the caller omits --table-format (None), and
    still raises on an explicit conflicting one."""
    path = str(tmp_path / "m.json")
    m = checkpoint.Manifest.load_or_create(path, "run-0", 4)
    fmt, snap = m.resolve_input_pin("iceberg", 5, loaded=False)
    assert (fmt, snap) == ("iceberg", 5)
    m.record_snapshot("snap-00000", [0])

    m2 = checkpoint.Manifest.load_or_create(path, "run-0", 4)
    fmt2, snap2 = m2.resolve_input_pin(None, None, loaded=True)
    assert (fmt2, snap2) == ("iceberg", 5)   # omission = stored pin
    with pytest.raises(ValueError, match="table_format"):
        m2.resolve_input_pin("parquet", None, loaded=True)
    with pytest.raises(ValueError, match="snapshots"):
        m2.resolve_input_pin("iceberg", 6, loaded=True)


def test_first_run_with_omitted_format_defaults_to_parquet(tmp_path):
    path = str(tmp_path / "m.json")
    m = checkpoint.Manifest.load_or_create(path, "run-0", 4)
    fmt, snap = m.resolve_input_pin(None, None, loaded=False)
    assert (fmt, snap) == ("parquet", None)
    assert m.table_format == "parquet"
