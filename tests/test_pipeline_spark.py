"""Integration: the Spark job must equal the single-threaded pandas oracle
per turn, byte for byte, under stable (conv_id, turn_idx) ordering — the
north-rule correctness gate."""

from __future__ import annotations

import pandas as pd
import pytest

from br_doc_ocr_spark.core.extract import OUTPUT_COLUMNS, oracle_extract
from br_doc_ocr_spark import pipeline
from tests.conftest import (part_file_bytes, sorted_in_file_order,
                            spark_jobs_of)


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Canonical form for comparison: stable order, plain-python cells."""
    out = df.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    out["fields"] = out["fields"].apply(lambda m: sorted(dict(m).items()))
    out["spans"] = out["spans"].apply(
        lambda xs: [(d["field"], d["start"], d["end"]) for d in xs]
    )
    out["confidence_scores"] = out["confidence_scores"].apply(
        lambda m: sorted(dict(m).items())
    )
    out["low_confidence_fields"] = out["low_confidence_fields"].apply(list)
    out["ts"] = pd.to_datetime(out["ts"]).dt.tz_localize(None)
    out["n_fields"] = out["n_fields"].astype(int)
    out["turn_idx"] = out["turn_idx"].astype(int)
    return out[OUTPUT_COLUMNS]


@pytest.fixture(scope="module")
def pipeline_output(spark, tiny_transcripts_path, tmp_path_factory):
    """run_pipeline's written output path and its returned lineage."""
    out_dir = tmp_path_factory.mktemp("out")
    _, lineage = pipeline.run_pipeline(
        spark, tiny_transcripts_path,
        output_path=str(out_dir / "extractions.parquet"),
        lineage_path=str(out_dir / "lineage.parquet"),
    )
    return str(out_dir / "extractions.parquet"), lineage


@pytest.fixture(scope="module")
def spark_result(spark, pipeline_output):
    path, lineage = pipeline_output
    return spark.read.parquet(path).toPandas(), lineage().toPandas()


def test_spark_matches_oracle_per_turn(spark_result, tiny_transcripts):
    """Per-turn equality: every column, every row, after stable ordering."""
    got, _ = spark_result
    expected = oracle_extract(tiny_transcripts)
    got_n = _normalize(got)
    exp_n = _normalize(expected)
    assert len(got_n) == len(exp_n)
    pd.testing.assert_frame_equal(got_n, exp_n, check_dtype=False)


def test_extracted_text_strips_boilerplate(spark_result):
    got, _ = spark_result
    html_rows = got[got["payload_kind"] == "html"]
    assert len(html_rows) > 0
    joined = "\n".join(html_rows["extracted_text"])
    assert "newsletter" not in joined
    assert "Copyright" not in joined
    assert "Home" not in joined


def test_statuses_cover_all_classes(spark_result):
    got, _ = spark_result
    statuses = set(got["status"])
    # prose-only rows → failed (no fields); invalid-field rows → partial.
    assert {"success", "failed"} <= statuses
    assert "partial" in statuses
    assert "error" not in statuses  # no kernel crashes on synthetic data


def test_skewed_conversation_spreads_across_partitions(spark, tiny_transcripts_path):
    """The range exchange must break conv-heavy across >1 task (SURVEY.md
    §4.3)."""
    from pyspark.sql import functions as sf

    transcripts = pipeline.read_transcripts(spark, tiny_transcripts_path)
    results, lineage = pipeline.run_extraction(transcripts)
    parts = (
        results.withColumn("pid", sf.spark_partition_id())
        .filter(sf.col("conv_id") == "conv-heavy")
        .select("pid").distinct().count()
    )
    assert parts > 1


def test_lineage_counts_reconcile(spark_result, tiny_transcripts):
    got, lineage = spark_result
    assert lineage["row_count"].sum() == len(tiny_transcripts)
    for status, col in [("success", "success_count"), ("partial", "partial_count"),
                        ("failed", "failed_count")]:
        assert lineage[col].sum() == (got["status"] == status).sum()
    # PII-free by schema: only ids, counts, timings — FIXTURES.md §5's
    # columns, in its order, with its types
    assert list(lineage.dtypes.astype(str).items()) == [
        ("run_id", "object"), ("snapshot_id", "object"),
        ("partition_id", "int32"), ("row_count", "int64"),
        ("success_count", "int64"), ("partial_count", "int64"),
        ("failed_count", "int64"), ("error_count", "int64"),
        ("field_count", "int64"), ("wall_clock_ms", "int64"),
    ]
    assert lineage["field_count"].sum() == got["n_fields"].sum()


def test_lineage_counts_each_partition_once_over_two_actions(
        spark, tiny_transcripts, tiny_transcripts_path):
    """Lineage is the kernel's tally merged by partition id with
    replacement: a second action over the same results re-runs every
    partition and replaces its entry, so the sum stays the input count
    (548), not twice it (1 096)."""
    results, lineage = pipeline.run_extraction(
        pipeline.read_transcripts(spark, tiny_transcripts_path))
    for _ in range(2):
        results.write.format("noop").mode("overwrite").save()
    rows = lineage().toPandas()
    assert rows["row_count"].sum() == len(tiny_transcripts)
    assert rows["partition_id"].is_unique


def test_output_is_stably_ordered_within_files(pipeline_output):
    """The written part files, read in name order, hold the turns in global
    (conv_id, turn_idx) order: sorted within each file, and each file's keys
    below the next file's (the range exchange orders the partitions).
    Read with pandas, not Spark: a Spark read orders its splits by size."""
    import glob

    files = sorted(glob.glob(f"{pipeline_output[0]}/part-*.parquet"))
    assert len(files) > 1  # the order spans files, not one coalesced file
    assert sorted_in_file_order(files)


def test_lineage_rewrite_of_a_run_is_idempotent(spark, tiny_transcripts,
                                                tiny_transcripts_path,
                                                tmp_path):
    """Running the same run_id twice into the same paths replaces that
    run's lineage rows instead of appending a second copy; another run id
    adds its own rows next to them. run_id is the table's directory column:
    read back it comes last, and a numeric-looking id is inferred as an int
    unless the reader is given the schema, which keeps it a string."""
    out, lin = str(tmp_path / "out"), str(tmp_path / "lineage")
    for run_id in ("1", "1", "2"):
        pipeline.run_pipeline(spark, tiny_transcripts_path, output_path=out,
                              lineage_path=lin, run_id=run_id)
    inferred = spark.read.parquet(lin)
    assert inferred.columns[-1] == "run_id"
    assert dict(inferred.dtypes)["run_id"] == "int"
    ddl = ", ".join(f"{c} {t}" for c, t in inferred.dtypes if c != "run_id")
    got = spark.read.schema(ddl + ", run_id string").parquet(lin).toPandas()
    assert got.groupby("run_id")["row_count"].sum().to_dict() == {
        "1": len(tiny_transcripts), "2": len(tiny_transcripts)}


def test_flagship_query_runs_on_testdata(spark):
    from tests.conftest import SF_DIR

    out = pipeline.flagship_query(spark, SF_DIR)
    rows = out.collect()
    assert len(rows) > 0
    assert {"status", "payload_kind", "n_turns", "total_fields",
            "avg_extracted_chars"} == set(out.columns)
    assert sum(r["n_turns"] for r in rows) == 500  # all sf0.001 documents


def test_max_payload_chars_caps_before_kernel(spark, tiny_transcripts,
                                              tmp_path_factory):
    """The pre-kernel substring cap (downscale-before-inference analog,
    preprocessing.py:66-96): oversized payloads are bounded, short payloads
    and row counts are untouched, and the capped run equals the oracle run
    on the capped input (the cap is a plain input transform, not a semantic
    fork in the kernel)."""
    cap = 80
    big = tiny_transcripts.copy()
    big.loc[big.index[0], "text"] = "x" * 10_000 + " CPF 123.456.789-00"
    big["ts"] = big["ts"].astype("datetime64[us]")  # Spark rejects NANOS
    path = str(tmp_path_factory.mktemp("cap") / "t.parquet")
    big.to_parquet(path, index=False)

    results, _ = pipeline.run_extraction(
        pipeline.read_transcripts(spark, path), max_payload_chars=cap)
    got = _normalize(results.toPandas())

    capped_input = big.copy()
    capped_input["text"] = capped_input["text"].str.slice(0, cap)
    expected = _normalize(oracle_extract(capped_input))

    assert len(got) == len(big)
    pd.testing.assert_frame_equal(got, expected, check_dtype=False)
    # the oversized row's extraction saw only `cap` chars → the CPF beyond
    # the cap is not extracted
    row = got[got["conv_id"] == big.iloc[0]["conv_id"]]
    row = row[row["turn_idx"] == big.iloc[0]["turn_idx"]].iloc[0]
    assert "cpf" not in dict(row["fields"])


def test_results_invariant_to_parallelism(spark, tiny_transcripts_path):
    """SCALE.md: nothing in the job is order- or partition-count-dependent.
    The same input must produce identical rows at any partition count
    (``spark.sql.shuffle.partitions`` only steers the shuffle layout; an
    open cost of one byte keeps the tiny input off the one-wave rule)."""
    keys = ("spark.sql.shuffle.partitions", "spark.sql.files.openCostInBytes")
    old = [spark.conf.get(key) for key in keys]
    frames = []
    try:
        spark.conf.set("spark.sql.files.openCostInBytes", "1")
        for parts in (2, 16, 5):
            spark.conf.set("spark.sql.shuffle.partitions", str(parts))
            results, _ = pipeline.run_extraction(
                pipeline.read_transcripts(spark, tiny_transcripts_path))
            frames.append(_normalize(results.toPandas()))
    finally:
        for key, value in zip(keys, old):
            spark.conf.set(key, value)
    pd.testing.assert_frame_equal(frames[0], frames[1], check_dtype=False)
    pd.testing.assert_frame_equal(frames[0], frames[2], check_dtype=False)


def test_redact_fields_appends_masked_column(spark, tiny_transcripts_path):
    """PII scrubbing end-to-end: redacted_text equals the kernel's
    redact_text over the raw payload + detected spans for every row, no
    masked identifier survives, and the base columns are byte-identical to
    the non-redacting run."""
    from br_doc_ocr_spark.core.extract import (
        DEFAULT_REDACT_FIELDS, redact_text)

    results, _ = pipeline.run_extraction(
        pipeline.read_transcripts(spark, tiny_transcripts_path),
        redact_fields=DEFAULT_REDACT_FIELDS)
    got = results.toPandas().sort_values(
        ["conv_id", "turn_idx"]).reset_index(drop=True)
    assert "redacted_text" in got.columns

    raw = pd.read_parquet(tiny_transcripts_path).sort_values(
        ["conv_id", "turn_idx"]).reset_index(drop=True)
    assert len(got) == len(raw)
    n_masked = 0
    for i in range(len(got)):
        spans = [dict(d) for d in got.loc[i, "spans"]]
        expect = redact_text(raw.loc[i, "text"], spans,
                             DEFAULT_REDACT_FIELDS)
        assert got.loc[i, "redacted_text"] == expect
        red = got.loc[i, "redacted_text"] or ""
        for f in DEFAULT_REDACT_FIELDS:
            for d in spans:
                if d["field"] == f:
                    n_masked += 1
                    val = raw.loc[i, "text"][d["start"]:d["end"]]
                    assert val not in red or val in f"[{f.upper()}]"
    assert n_masked > 0  # the fixture must actually exercise masking

    plain, _ = pipeline.run_extraction(
        pipeline.read_transcripts(spark, tiny_transcripts_path))
    a = _normalize(got[OUTPUT_COLUMNS])
    b = _normalize(plain.toPandas())
    pd.testing.assert_frame_equal(a, b)


def test_read_transcripts_iceberg_seam(spark, tiny_transcripts_path):
    """The Iceberg reader path is wired (DataSourceV2 load + snapshot-id
    option) and fails with a jar-naming error in this runtime-less sandbox;
    unknown formats are rejected outright."""
    with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        pipeline.read_transcripts(spark, tiny_transcripts_path,
                                  table_format="iceberg", snapshot_id=7)
    with pytest.raises(ValueError, match="unsupported table_format"):
        pipeline.read_transcripts(spark, tiny_transcripts_path,
                                  table_format="orc")
    # pinning a snapshot on plain parquet must be loud, not a silent
    # read-of-current-data
    with pytest.raises(ValueError, match="requires table_format='iceberg'"):
        pipeline.read_transcripts(spark, tiny_transcripts_path,
                                  snapshot_id=7)
    # default path unchanged
    assert pipeline.read_transcripts(
        spark, tiny_transcripts_path).columns == pipeline.TRANSCRIPT_COLUMNS


def test_turn_idx_width_gives_byte_identical_output(spark, tiny_transcripts,
                                                    tmp_path):
    """The parquet read declares the transcript schema, with turn_idx read
    as a long (Spark widens INT32 to it) and cast back to int: a table with
    int32 turn_idx and one with int64 both read as int, and run_pipeline
    writes byte-identical output for them."""
    outputs = []
    for width in ("int32", "int64"):
        src = str(tmp_path / f"{width}.parquet")
        tiny_transcripts.astype(
            {"turn_idx": width, "ts": "datetime64[us]"}).to_parquet(
                src, index=False)
        assert pd.read_parquet(src)["turn_idx"].dtype == width  # premise
        assert dict(pipeline.read_transcripts(spark, src).dtypes)[
            "turn_idx"] == "int"
        out = str(tmp_path / f"{width}_out")
        pipeline.run_pipeline(spark, src, output_path=out)
        outputs.append(part_file_bytes(out))
    assert outputs[0] and outputs[0] == outputs[1]


def test_missing_column_reads_as_null(spark, tiny_transcripts, tmp_path):
    """A table without one of the declared columns reads that column as
    null (the read declares the schema instead of inferring it, so nothing
    fails at analysis): a table without ``tool`` gives the full table's
    output with ``tool`` null."""
    full = tiny_transcripts.astype({"ts": "datetime64[us]"})
    outputs = {}
    for name, df in (("full", full), ("no_tool", full.drop(columns="tool"))):
        src = str(tmp_path / f"{name}.parquet")
        df.to_parquet(src, index=False)
        read = pipeline.read_transcripts(spark, src)
        assert read.columns == pipeline.TRANSCRIPT_COLUMNS
        out = str(tmp_path / f"{name}_out")
        pipeline.run_pipeline(spark, src, output_path=out)
        outputs[name] = _normalize(spark.read.parquet(out).toPandas())
    assert outputs["no_tool"]["tool"].isna().all()
    assert (outputs["full"]["tool"].notna()).all()
    pd.testing.assert_frame_equal(outputs["no_tool"].drop(columns="tool"),
                                  outputs["full"].drop(columns="tool"))


def test_compact_parquet_rewrites_small_files(spark, tmp_path):
    """Compaction collapses a many-small-file table to the byte-targeted
    file count with identical content; sort_cols restores within-file
    order."""
    import pandas as pd

    src = str(tmp_path / "sliver")
    df = spark.range(20_000).selectExpr(
        "cast(id % 50 as string) AS conv_id",
        "cast(id as int) AS turn_idx",
        "repeat('x', 100) AS text")
    df.repartition(64).write.parquet(src)  # 64 sliver files

    out = str(tmp_path / "compacted")
    stats = pipeline.compact_parquet(spark, src, out, target_file_mb=512,
                                     sort_cols=("conv_id", "turn_idx"))
    assert stats["files_before"] == 64
    assert stats["files_after"] == 1       # everything fits one 512MB target
    assert stats["rows"] == 20_000

    a = spark.read.parquet(src).toPandas().sort_values(
        ["conv_id", "turn_idx"]).reset_index(drop=True)
    b = spark.read.parquet(out).toPandas().sort_values(
        ["conv_id", "turn_idx"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)
    # within-file sort applied: reading back preserves the sorted runs
    first_file = spark.read.parquet(out).toPandas()
    runs = first_file.groupby("conv_id")["turn_idx"].apply(
        lambda s: (s.diff().dropna() > 0).all())
    assert runs.all()


def test_compact_parquet_honors_target_file_size(spark, tmp_path):
    """A table larger than one target unit splits into ceil(bytes/target)
    files, not one mega-file."""
    src = str(tmp_path / "big")
    spark.range(40_000).selectExpr(
        "cast(id as string) AS k",
        # incompressible-ish payload so on-disk size stays > 2 MB
        "sha2(cast(id as string), 256) AS a",
        "sha2(cast(id + 1 as string), 256) AS b",
        "repeat(sha2(cast(id as string), 512), 4) AS c",
    ).repartition(32).write.parquet(src)

    out = str(tmp_path / "sized")
    stats = pipeline.compact_parquet(spark, src, out, target_file_mb=1)
    import math
    import os
    # expectation measured INDEPENDENTLY of the implementation's own
    # listing, so a byte-counting bug cannot cancel out of the assertion
    measured = sum(
        os.path.getsize(os.path.join(r, f))
        for r, _d, fs in os.walk(src) for f in fs if f.endswith(".parquet"))
    expected = math.ceil(measured / (1024 * 1024))
    assert measured > 2 * 1024 * 1024  # premise: input spans >2 units
    assert stats["bytes"] == measured
    assert stats["files_after"] == expected > 1
    assert stats["rows"] == 40_000


def test_compact_parquet_is_selective(spark, tmp_path):
    """rewrite_data_files semantics (VERDICT r03 #1): only files below
    small_file_ratio × target are rewritten; well-sized files pass through
    BYTE-IDENTICAL (copied, never re-shuffled), and content survives."""
    import hashlib
    import os

    src = str(tmp_path / "mixed")
    # two well-sized (~>0.75 MB at target 1 MB) incompressible files
    big = spark.range(14_000).selectExpr(
        "cast(id as string) AS k",
        "repeat(sha2(cast(id as string), 512), 4) AS c")
    big.repartition(2).write.parquet(src)
    # plus 40 sliver files of the same schema
    sliver = spark.range(14_000, 15_000).selectExpr(
        "cast(id as string) AS k",
        "repeat(sha2(cast(id as string), 512), 4) AS c")
    sliver.repartition(40).write.mode("append").parquet(src)

    def listing(path):
        return {f: os.path.getsize(os.path.join(r, f))
                for r, _d, fs in os.walk(path)
                for f in fs if f.endswith(".parquet")}

    before = listing(src)
    threshold = int(0.75 * 1024 * 1024)
    large_names = {f for f, s in before.items() if s >= threshold}
    assert len(large_names) == 2  # premise: the two big files clear the bar

    out = str(tmp_path / "selective")
    stats = pipeline.compact_parquet(spark, src, out, target_file_mb=1)
    assert stats["copied_files"] == 2
    assert stats["rewritten_files"] == len(before) - 2
    assert stats["rows"] == 15_000

    after = listing(out)
    # the large files appear under their ORIGINAL names with identical bytes
    for name in large_names:
        assert name in after
        h = lambda p: hashlib.md5(open(p, "rb").read()).hexdigest()  # noqa: E731
        src_file = next(os.path.join(r, f) for r, _d, fs in os.walk(src)
                        for f in fs if f == name)
        out_file = next(os.path.join(r, f) for r, _d, fs in os.walk(out)
                        for f in fs if f == name)
        assert h(src_file) == h(out_file)
    # slivers collapsed: total output files = 2 passthrough + ceil(small/target)
    import math
    small_bytes = sum(s for f, s in before.items() if f not in large_names)
    assert stats["files_after"] == 2 + math.ceil(small_bytes / (1024 * 1024))

    a = spark.read.parquet(src).toPandas().sort_values("k").reset_index(drop=True)
    b = spark.read.parquet(out).toPandas().sort_values("k").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_compact_parquet_preserves_hive_partitions(spark, tmp_path):
    """Partitioned layout (review r04 finding): same-named part files from
    different partition dirs must not collide in the output, partition
    columns must survive the rewrite, and the output must stay readable as
    the same partitioned table."""
    import os

    src = str(tmp_path / "parted")
    spark.range(2000).selectExpr(
        "id", "cast(id % 3 AS int) AS bucket",
        "sha2(cast(id as string), 256) AS c"
    ).write.partitionBy("bucket").parquet(src)

    # all slivers: everything is rewritten; partition columns must survive
    out1 = str(tmp_path / "parted_rewrite")
    stats = pipeline.compact_parquet(spark, src, out1, target_file_mb=1)
    got = spark.read.parquet(out1)
    assert got.count() == 2000
    assert set(got.columns) == {"id", "bucket", "c"}
    assert sorted(r["bucket"] for r in got.select("bucket").distinct().collect()) \
        == [0, 1, 2]
    # layout preserved: output files live under bucket=N dirs
    dirs = {os.path.basename(r) for r, _d, fs in os.walk(out1)
            if any(f.endswith(".parquet") for f in fs)}
    assert dirs == {"bucket=0", "bucket=1", "bucket=2"}
    assert stats["rows"] == 2000

    # all pass-through (ratio 0): copies keep their partition subpath, so
    # identical basenames across partition dirs cannot clobber each other
    out2 = str(tmp_path / "parted_copy")
    stats2 = pipeline.compact_parquet(spark, src, out2, target_file_mb=1,
                                      small_file_ratio=0.0)
    assert stats2["rewritten_files"] == 0
    assert spark.read.parquet(out2).count() == 2000
    a = spark.read.parquet(src).toPandas().sort_values("id").reset_index(drop=True)
    b = spark.read.parquet(out2).toPandas().sort_values("id").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b[a.columns])


def test_compact_parquet_refuses_in_place(spark, tmp_path):
    """output == input would make Spark's overwrite delete the source
    mid-scan — must raise, including on trailing-slash spellings."""
    src = str(tmp_path / "t")
    spark.range(10).write.parquet(src)
    with pytest.raises(ValueError, match="equals or nests with input_path"):
        pipeline.compact_parquet(spark, src, src)
    with pytest.raises(ValueError, match="equals or nests with input_path"):
        pipeline.compact_parquet(spark, src, src + "/")


def test_compact_parquet_refuses_nested_paths(spark, tmp_path):
    """An input nested UNDER the output ('/t/raw' -> '/t') is recursively
    deleted by the overwrite before the rewrite scans it — silent source
    data loss; the reverse nesting lists the output as its own input on a
    re-run. Both must raise (review r05 — equality alone missed them)."""
    src = str(tmp_path / "t" / "raw")
    spark.range(10).write.parquet(src)
    with pytest.raises(ValueError, match="equals or nests with input_path"):
        pipeline.compact_parquet(spark, src, str(tmp_path / "t"))
    with pytest.raises(ValueError, match="equals or nests with input_path"):
        pipeline.compact_parquet(spark, str(tmp_path / "t"),
                                 str(tmp_path / "t" / "compacted"))


def test_run_pipeline_rejects_lineage_without_output(spark,
                                                     tiny_transcripts_path):
    """lineage_path without output_path was silently ignored (the lineage
    write nests under the output write) — must raise (review r05)."""
    with pytest.raises(ValueError, match="lineage_path requires output_path"):
        pipeline.run_pipeline(spark, tiny_transcripts_path,
                              lineage_path="/tmp/never-written")


def _executions_during(spark, action) -> tuple[object, list[int]]:
    """The session's SQL status store and the ids of the executions that
    ``action`` ran."""
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        seq = store.executionsList()
        return [seq.apply(i).executionId() for i in range(seq.size())]

    before = max(executions(), default=-1)
    action()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return store, [e for e in executions() if e > before]


def _plan_nodes(store, execution_id: int) -> list:
    nodes = store.planGraph(execution_id).allNodes()
    return [nodes.apply(i) for i in range(nodes.size())]


def _rows_through_python(spark, action) -> int:
    """Rows the extraction ``mapInPandas`` returned while ``action`` ran, from
    the "number of output rows" SQL metric of every MapInPandas node in the
    session's SQL status store (a kernel run twice counts its rows twice)."""
    store, ids = _executions_during(spark, action)
    rows = 0
    for e in ids:
        values = {}
        it = store.executionMetrics(e).iterator()
        while it.hasNext():
            kv = it.next()
            values[kv._1()] = kv._2()
        for node in _plan_nodes(store, e):
            if node.name() != "MapInPandas":
                continue
            metrics = node.metrics()
            for m in (metrics.apply(i) for i in range(metrics.size())):
                if m.name() == "number of output rows":
                    rows += int(values.get(m.accumulatorId(), "0")
                                .replace(",", ""))
    return rows


def test_ordered_writes_run_the_kernel_once(spark, tiny_transcripts,
                                            tiny_transcripts_path, tmp_path):
    """Every ordered write runs the kernel once: the range exchange samples
    the input, never the kernel output, whose sampling job would run the
    kernel a second time (1 096 rows for the 548-turn fixture). Checked for
    run_pipeline with and without lineage, run_resumable, the JSON sinks
    and the multidoc CLI."""
    from br_doc_ocr_spark import checkpoint, cli
    from br_doc_ocr_spark.core.extract import oracle_extract_documents

    n = len(tiny_transcripts)
    assert _rows_through_python(spark, lambda: pipeline.run_pipeline(
        spark, tiny_transcripts_path,
        output_path=str(tmp_path / "out"))) == n
    assert _rows_through_python(spark, lambda: pipeline.run_pipeline(
        spark, tiny_transcripts_path, output_path=str(tmp_path / "out2"),
        lineage_path=str(tmp_path / "lineage"))) == n
    assert _rows_through_python(spark, lambda: checkpoint.run_resumable(
        spark, tiny_transcripts_path, str(tmp_path / "buckets"),
        str(tmp_path / "manifest.json"))) == n
    results, _ = pipeline.run_extraction(
        pipeline.read_transcripts(spark, tiny_transcripts_path))
    assert _rows_through_python(spark, lambda: pipeline.write_json_sinks(
        results, str(tmp_path / "sinks"))) == n
    n_docs = len(oracle_extract_documents(tiny_transcripts))
    assert _rows_through_python(spark, lambda: cli.main([
        "multidoc", "--input", tiny_transcripts_path,
        "--output", str(tmp_path / "docs")])) == n_docs


def test_lineage_writes_cache_nothing(spark, tiny_transcripts_path,
                                     tmp_path):
    """Lineage is the kernel's own tally, so no plan that run_pipeline or
    run_resumable executes with a lineage path reads a cached relation —
    the kernel output (extracted text included) is never persisted."""
    from br_doc_ocr_spark import checkpoint

    for action in (
            lambda: pipeline.run_pipeline(
                spark, tiny_transcripts_path, output_path=str(tmp_path / "o"),
                lineage_path=str(tmp_path / "lineage")),
            lambda: checkpoint.run_resumable(
                spark, tiny_transcripts_path, str(tmp_path / "buckets"),
                str(tmp_path / "manifest.json"),
                lineage_path=str(tmp_path / "bucket_lineage"))):
        store, ids = _executions_during(spark, action)
        names = {node.name() for e in ids for node in _plan_nodes(store, e)}
        assert "MapInPandas" in names  # the status store saw the kernel
        assert not {n for n in names if "InMemory" in n}, names


def test_run_pipeline_job_budget(spark, tiny_transcripts_path, tmp_path):
    """Job budget: one run_pipeline call with an output and a lineage path
    runs 4 Spark jobs — the range exchange's sampling and map-stage jobs,
    the output write and the lineage write. The input is read with its
    declared schema, so no schema-inference job runs. A change that adds or
    removes a job must change this number."""
    assert spark_jobs_of(spark, lambda: pipeline.run_pipeline(
        spark, tiny_transcripts_path, output_path=str(tmp_path / "out"),
        lineage_path=str(tmp_path / "lineage"))) == 4


def test_compact_parquet_empty_input_returns_empty_stats(spark, tmp_path):
    """Zero parquet files under the input must return zeroed stats, not die
    in schema inference reading the empty output back (ADVICE r04)."""
    src = tmp_path / "empty"
    src.mkdir()
    (src / "_SUCCESS").touch()  # marker files don't count as parquet
    stats = pipeline.compact_parquet(spark, str(src), str(tmp_path / "out"))
    assert stats == {"files_before": 0, "files_after": 0, "bytes": 0,
                     "rewritten_files": 0, "rewritten_bytes": 0,
                     "copied_files": 0, "rows": 0}
    # rewrite-then-swap callers rename/list the output unconditionally —
    # the empty-table edge must still create it (review r05)
    assert (tmp_path / "out").is_dir()


def _iceberg_available(spark) -> bool:
    """True iff an iceberg-spark-runtime jar is on the session classpath."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def test_iceberg_reader_contract(spark, tiny_transcripts, tmp_path):
    """VERDICT r03 #8: exercises read_transcripts(table_format='iceberg')
    against a real Iceberg table INCLUDING snapshot time travel — skipped
    where the runtime jar is absent (this sandbox), runnable as-is on a
    jar-equipped cluster (spark-submit --packages org.apache.iceberg:
    iceberg-spark-runtime-...; see README 'Iceberg input')."""
    if not _iceberg_available(spark):
        pytest.skip("iceberg-spark-runtime jar not on classpath "
                    "(expected in this sandbox; error seam tested in "
                    "test_read_transcripts_iceberg_seam)")
    warehouse = str(tmp_path / "warehouse")
    spark.conf.set("spark.sql.catalog.graft_it",
                   "org.apache.iceberg.spark.SparkCatalog")
    spark.conf.set("spark.sql.catalog.graft_it.type", "hadoop")
    spark.conf.set("spark.sql.catalog.graft_it.warehouse", warehouse)
    table = "graft_it.db.transcripts"

    full = spark.createDataFrame(tiny_transcripts)
    half = full.limit(full.count() // 2)
    half.writeTo(table).create()                      # snapshot 1
    snap1 = spark.sql(
        f"SELECT snapshot_id FROM {table}.snapshots "
        "ORDER BY committed_at").first()[0]
    full.subtract(half).writeTo(table).append()       # snapshot 2

    current = pipeline.read_transcripts(spark, table,
                                        table_format="iceberg")
    assert current.columns == pipeline.TRANSCRIPT_COLUMNS
    assert current.count() == full.count()
    pinned = pipeline.read_transcripts(spark, table, table_format="iceberg",
                                       snapshot_id=int(snap1))
    assert pinned.count() == half.count()             # time travel honored
    # and the extraction pipeline runs unchanged over the Iceberg scan
    results, _ = pipeline.run_extraction(pinned)
    assert results.count() == half.count()


def test_compact_parquet_accepts_hadoop_uri_spellings(spark, tmp_path):
    """file:/x (Hadoop's own toString spelling), file:///x and plain /x must
    all compact and all trip the in-place guard against each other."""
    src = str(tmp_path / "u")
    spark.range(100).write.parquet(src)
    out = str(tmp_path / "u_out")
    stats = pipeline.compact_parquet(spark, f"file:{src}", out,
                                     target_file_mb=1)
    assert stats["rows"] == 100
    for spelling in (src, f"file:{src}", f"file://{src}"):
        with pytest.raises(ValueError, match="equals or nests with input_path"):
            pipeline.compact_parquet(spark, src, spelling)


def test_kept_zip_directories_survive_invalidate_caches(tmp_path,
                                                       monkeypatch):
    """After ``_keep_zip_directories`` the per-task
    ``importlib.invalidate_caches()`` re-parses no archive, and a module of
    the archive not yet imported still imports from the kept directory."""
    import importlib
    import sys
    import zipfile
    import zipimport

    archive = tmp_path / "kept.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        for name in ("pkg/__init__.py", "pkg/sub/__init__.py"):
            zf.writestr(name, "")
        zf.writestr("pkg/sub/a.py", "A = 1\n")
        zf.writestr("pkg/sub/b.py", "B = 2\n")
    monkeypatch.setattr(sys, "path", [str(archive)] + sys.path)
    monkeypatch.setattr(sys, "path_importer_cache",
                        dict(sys.path_importer_cache))
    for name in ("pkg", "pkg.sub", "pkg.sub.a", "pkg.sub.b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    try:
        assert importlib.import_module("pkg.sub.a").A == 1
        calls = [0]
        read = zipimport._read_directory

        def counted(path):
            calls[0] += 1
            return read(path)

        monkeypatch.setattr(zipimport, "_read_directory", counted)
        importlib.invalidate_caches()
        assert calls[0] == 3  # the archive, pkg/ and pkg/sub/
        pipeline._keep_zip_directories()
        kept = dict(sys.path_importer_cache)
        pipeline._keep_zip_directories()  # idempotent: swaps nothing more
        assert sys.path_importer_cache == kept
        calls[0] = 0
        importlib.invalidate_caches()
        assert calls[0] == 0
        assert importlib.import_module("pkg.sub.b").B == 2
    finally:
        for name in ("pkg", "pkg.sub", "pkg.sub.a", "pkg.sub.b"):
            sys.modules.pop(name, None)


def test_python_tasks_keep_zip_directories(spark):
    """Inside a task run through ``map_kernel``, the worker's
    ``importlib.invalidate_caches()`` re-parses no zip archive; the worker
    has zip importers (pyspark.zip), so the zero is not vacuous. The media
    and fingerprint kernels cross through ``map_kernel`` too (the one
    ``mapInPandas`` call, locked in ``tests/test_plans.py``)."""
    def probe(batch: pd.DataFrame) -> pd.DataFrame:
        import importlib
        import sys
        import zipimport

        calls = [0]
        read = zipimport._read_directory

        def counted(archive):
            calls[0] += 1
            return read(archive)

        zipimport._read_directory = counted
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        zips = sum(isinstance(f, zipimport.zipimporter)
                   for f in sys.path_importer_cache.values())
        return pd.DataFrame({"reads": [calls[0]], "zips": [zips]})

    out, _ = pipeline.map_kernel(
        spark.range(0, 4, numPartitions=4), probe, "reads int, zips int")
    got = out.toPandas()
    assert len(got) == 4
    assert (got["zips"] >= 1).all(), got
    assert (got["reads"] == 0).all(), got
