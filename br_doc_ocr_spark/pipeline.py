"""The batch extraction job — the graft's flagship DataFrame pipeline.

Reference analog: the batch fan-out executor ``cli/batch.py:24-217`` (scan →
per-record extraction with error channel → sinks → summary), rebuilt on
Spark's execution model per the north rule:

1. scan the transcript table (parquet here; the layout is Iceberg-compatible)
   with its declared schema, so no schema-inference job runs,
2. **one range exchange on (conv_id, turn_idx)** — extraction is per-row, so
   a 10^9-turn conversation may be cut anywhere: the range partitioner cuts
   it at sampled turn boundaries, so no single heavy conv_id stalls one task
   (SURVEY.md §4.3), and partition i holds keys below partition i+1's. The
   partition count is ``spark.sql.shuffle.partitions``, except for an input
   no bigger than ``spark.sql.files.openCostInBytes`` per task slot: that
   gets one wave of Python tasks, ``min(spark.sql.shuffle.partitions,
   defaultParallelism)`` (each Python task pays a fixed start-up charge,
   SCALE.md; its largest part, the re-parse of the worker's 16 zip
   importers, is paid once per worker process since ``map_kernel`` keeps
   their directories),
3. exactly **one Arrow crossing**: ``map_kernel(extract_batch)`` over the
   shared kernel (zero per-row Python at the Spark boundary),
4. per-partition **lineage** from the kernel's own tally (an accumulator the
   tasks fill as they run; no persist, no job of its own) — PII-free by
   schema (counts and timings only, NFR-005/006),
5. **stable turn ordering**: ``sortWithinPartitions(conv_id, turn_idx)`` of
   the kernel output, which over the range partitions is a global order —
   fixes the reference's nondeterministic-order bug (``cli/batch.py:184-190``
   writes in thread-completion order),
6. idempotent parquet writes, one file per range partition, in key order.
"""

from __future__ import annotations

import functools
import sys
import time
import zipimport
from collections import Counter
from typing import Callable, Iterable, Iterator

import pandas as pd
from pyspark import StorageLevel, TaskContext
from pyspark.accumulators import Accumulator, AccumulatorParam
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as sf
from pyspark.sql.types import StructType

from br_doc_ocr_spark.core.extract import (
    CLASSIFY_CONFIDENCE,
    MULTIDOC_SCHEMA_DDL,
    _ddl_columns,
    extract_batch,
    extract_documents_batch,
    output_schema_ddl,
    schema_field_names,
)
from br_doc_ocr_spark.core.textops import KIND_HTML, KIND_PDF, KIND_PROSE

TRANSCRIPT_SCHEMA_DDL = ("conv_id string, turn_idx int, role string, "
                         "text string, tool string, ts timestamp")
TRANSCRIPT_COLUMNS = _ddl_columns(TRANSCRIPT_SCHEMA_DDL)
# The parquet read schema: the declared one with turn_idx read as a long,
# which Spark widens INT32 columns to, so int32 and int64 tables both read
_PARQUET_READ_DDL = TRANSCRIPT_SCHEMA_DDL.replace("turn_idx int",
                                                  "turn_idx long")

# FIXTURES.md §5 in column order; a redacting run appends
# ``redaction_residuals long``
LINEAGE_DDL = ("partition_id int, row_count long, success_count long, "
               "partial_count long, failed_count long, error_count long, "
               "field_count long, wall_clock_ms long")


def read_transcripts(spark: SparkSession, path: str,
                     table_format: str | None = "parquet",
                     snapshot_id: int | None = None) -> DataFrame:
    """Scan the transcript table as exactly the job's columns
    (:data:`TRANSCRIPT_COLUMNS`), so Catalyst prunes the read to them.
    ``table_format=None`` means unspecified and reads parquet (callers like
    the CLI pass their optional flag straight through).

    Parquet is read with the declared schema (:data:`TRANSCRIPT_SCHEMA_DDL`),
    so no schema-inference job runs (FIXTURES.md §1). ``turn_idx`` is read
    as a long, to which Spark widens an INT32 column, and cast to the
    declared int: int32 and int64 tables read alike, and a value outside
    the int range fails the read. A declared column the files lack reads
    as null, like a null cell; columns beyond the declared ones are not
    read.

    ``table_format='iceberg'`` loads ``path`` as an Iceberg table name (or
    HDFS table dir) through the DataSourceV2 reader — identical projection
    pushdown, plus ``snapshot_id`` time travel for reproducible reruns
    against a pinned snapshot (the production form of the checkpoint
    manifest's snapshot ids). Requires the iceberg-spark-runtime jar on the
    cluster (spark-submit ``--packages``); this sandbox ships no such jar,
    so the path raises a clear error here and is exercised on real
    clusters only — everything downstream is format-agnostic.
    """
    table_format = table_format or "parquet"
    if table_format == "iceberg":
        reader = spark.read.format("iceberg")
        if snapshot_id is not None:
            reader = reader.option("snapshot-id", str(snapshot_id))
        try:
            df = reader.load(path)
        except Exception as e:
            # only the missing-jar/data-source case gets the classpath hint;
            # table-not-found / auth / bad snapshot-id keep their own message
            msg = str(e)
            if ("Failed to find" in msg and "data source" in msg.lower()) or \
                    "ClassNotFoundException" in msg:
                raise RuntimeError(
                    "Iceberg read failed — is iceberg-spark-runtime on the "
                    "classpath (spark-submit --packages org.apache.iceberg:"
                    "iceberg-spark-runtime-...)?") from e
            raise
        return df.select(*TRANSCRIPT_COLUMNS)
    if table_format != "parquet":
        raise ValueError(f"unsupported table_format: {table_format!r}")
    if snapshot_id is not None:
        # silently reading the CURRENT table while the caller believes the
        # run is pinned would break the reproducible-rerun contract the
        # flag exists for
        raise ValueError(
            "snapshot_id requires table_format='iceberg' — plain parquet "
            "has no snapshot to pin")
    return (spark.read.schema(_PARQUET_READ_DDL).parquet(path)
            .withColumn("turn_idx", sf.col("turn_idx").cast("int")))


class _ByPartition(AccumulatorParam):
    """``{partition_id: tally}`` merged by replacement: a re-run or retried
    task overwrites its partition's entry instead of counting it twice."""

    def zero(self, value: dict) -> dict:
        return {}

    def addInPlace(self, value1: dict, value2: dict) -> dict:
        return value1 | value2


class _KeptZipImporter(zipimport.zipimporter):
    """A zip importer whose ``invalidate_caches()`` keeps the directory it
    already holds instead of re-parsing the archive's central directory."""

    def invalidate_caches(self) -> None:
        pass


def _keep_zip_directories() -> None:
    """Swap every plain ``zipimporter`` in ``sys.path_importer_cache`` for a
    :class:`_KeptZipImporter` on the same path, built from
    ``zipimport._zip_directory_cache`` (it reads no archive). Idempotent.

    The worker calls ``importlib.invalidate_caches()`` at every task start,
    and on CPython 3.11 each plain zipimporter then re-parses its archive:
    ~205 ms per task over the worker's 16 importers (SCALE.md). The archives
    do not change while a worker lives (Spark's own zips and jar, and
    ``addPyFile`` archives, which Spark does not re-register with other
    content); one added later is read normally and swapped at the next
    task."""
    directories = zipimport._zip_directory_cache
    for path, finder in list(sys.path_importer_cache.items()):
        if (type(finder) is zipimport.zipimporter
                and finder.archive in directories):
            sys.path_importer_cache[path] = _KeptZipImporter(path)


def map_kernel(df: DataFrame,
               kernel: Callable[[pd.DataFrame], pd.DataFrame],
               ddl: str | StructType) -> tuple[DataFrame, Accumulator]:
    """The one Arrow adapter: ``mapInPandas`` of a batch kernel (pandas in,
    rows of ``ddl`` out) over ``df``, skipping empty batches → (output,
    tally): a :class:`_ByPartition` accumulator to which each task that ran
    a batch adds its partition's counts at its end: ``row_count`` and
    ``wall_clock_ms``; with a ``status`` column, ``field_count`` and rows
    per status; with ``redaction_residuals``, their sum; and the kernel's
    own counters, popped from the output's ``attrs["counts"]``. Each task
    first keeps its worker's zip directories (:func:`_keep_zip_directories`),
    so only the first task of a worker process re-parses them."""
    tally = df.sparkSession.sparkContext.accumulator({}, _ByPartition())

    def run(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        _keep_zip_directories()
        counts: Counter = Counter()
        for batch in batches:
            if not len(batch):
                continue
            t0 = time.perf_counter()
            out = kernel(batch)
            counts["wall_clock_ms"] += (time.perf_counter() - t0) * 1000
            counts["row_count"] += len(out)
            counts.update(out.attrs.pop("counts", {}))
            if "status" in out:
                counts["field_count"] += out["n_fields"].sum()
                statuses = out["status"].value_counts().add_suffix("_count")
                counts.update(statuses.to_dict())
            if "redaction_residuals" in out:
                counts["redaction_residuals"] += out["redaction_residuals"].sum()
            yield out
        if counts:
            tally.add({TaskContext.get().partitionId(): counts})

    return df.mapInPandas(run, schema=ddl), tally


def _lineage_frame(spark: SparkSession, tally: Accumulator,
                   ddl: str) -> DataFrame:
    """The lineage frame of ``ddl`` from a :class:`_ByPartition` tally, one
    row per partition in partition order. Built from pandas through Arrow:
    a frame from a list of tuples is a Python RDD, whose tasks start Python
    workers."""
    names = _ddl_columns(ddl)
    rows = [[pid] + [int(counts[c]) for c in names[1:]]
            for pid, counts in sorted(tally.value.items())]
    return spark.createDataFrame(pd.DataFrame(rows, columns=names), ddl)


def _range_exchange(transcripts: DataFrame, *lead: Column) -> DataFrame:
    """The one Exchange in front of the extraction crossing: range on
    ``(*lead, conv_id, turn_idx)`` into ``spark.sql.shuffle.partitions``
    — or, when the whole input is at most ``spark.sql.files.openCostInBytes``
    (Spark's byte-equivalent of a fixed per-task charge) per task slot, into
    one wave of task slots. A caller steers the count through those confs.

    The range bounds come from a sampling job over the input (the scan, not
    the kernel), so a hot conversation is cut at sampled turn boundaries
    instead of landing in one task, and the partitions are in key order.

    Each Python task pays a fixed start-up charge that does not depend on
    its rows (SCALE.md); on such a small input no task holds enough rows to
    amortize it, so extra waves only add charges. The charge's largest
    part, the re-parse of the worker's 16 zip importers (``pyspark.zip``,
    the ``spark-core`` jar, py4j) at every task start, is now paid once per
    worker process (:func:`_keep_zip_directories`); SCALE.md records what
    is left per task, and its "extraction mapInPandas" row the measurement
    against which this rule was re-decided and kept.
    Bigger inputs keep the conf, and with it the wave smoothing of several
    tasks per slot. The input size is Catalyst's driver-side estimate (it
    plans the query, runs no job); a filtered input is sized by its
    unfiltered scan."""
    spark = transcripts.sparkSession
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    slots = spark.sparkContext.defaultParallelism
    # py4j handles (classic, non-Connect sessions only): Catalyst's size
    # estimate and the parsed byte conf (the string may carry a unit)
    size = transcripts._jdf.queryExecution().optimizedPlan().stats() \
        .sizeInBytes()
    open_cost = spark._jsparkSession.sessionState().conf() \
        .filesOpenCostInBytes()
    if int(size) <= slots * open_cost:
        n = min(n, slots)
    return transcripts.repartitionByRange(n, *lead, "conv_id", "turn_idx")


def run_extraction(
    transcripts: DataFrame,
    schema: dict | None = None,
    max_payload_chars: int | None = None,
    redact_fields: frozenset[str] | None = None,
    lead_key: Column | None = None,
) -> tuple[DataFrame, Callable[[], DataFrame]]:
    """Run the extraction stage → (results, lineage).

    The results are range-partitioned on ``(conv_id, turn_idx)`` and sorted
    within each partition, so they are in global turn order; the one
    exchange also splits long conversations across tasks. ``lead_key``
    leads both the range and the sort key: an expression of ``conv_id``
    and ``turn_idx`` only, since the range evaluates it on the input and
    the sort on the output. ``checkpoint.run_resumable`` passes its bucket,
    so each task holds a run of consecutive buckets. The sort runs on
    the kernel OUTPUT: sorting the input ahead of the crossing held whole
    partitions of raw payloads in the sorter and raised the peak RSS of the
    document benchmark by a quarter.
    The partition count is ``spark.sql.shuffle.partitions``, or one wave of
    task slots for an input of at most ``spark.sql.files.openCostInBytes``
    per slot (Catalyst's size estimate) — see :func:`_range_exchange`.
    ``schema`` enables schema-guided extraction (US4): a JSON-Schema dict
    whose field names bound the extracted field set (shipped to executors in
    the task closure — the broadcast-variable pattern for a driver-side
    config).

    ``max_payload_chars`` caps each payload BEFORE the Arrow crossing with a
    codegen'd ``substring`` — the graft analog of the reference's
    downscale-before-inference resize (``preprocessing.py:66-96``: cap at
    1024px, never upscale): a pathological single-turn payload (SCALE.md
    "what breaks first" #3 — a 1 GB turn) is bounded at scan speed instead of
    blowing up a Python worker's Arrow batch. Short payloads pass through
    unchanged (substring never pads); off by default.

    ``redact_fields`` (PII scrubbing, a training-data op beyond the
    reference) appends a ``redacted_text`` column: the raw payload with
    every detected span of those fields masked as ``[FIELD]`` —
    ``core.extract.DEFAULT_REDACT_FIELDS`` covers the identifier fields.

    ``lineage`` is a zero-argument callable returning the lineage frame
    (FIXTURES.md §5 from ``partition_id`` on) of the actions run so far on
    ``results``: the kernel's own tally (:func:`map_kernel`), one row per
    partition that had rows, a re-run replacing its partition's row.
    Redacting runs add the residual-identifier escape count (the PII
    completeness audit, VERDICT r03 #5) — a count, never a payload. It
    never runs the kernel; before the first action it has no rows.
    """
    if max_payload_chars is not None:
        transcripts = transcripts.withColumn(
            "text", sf.substring("text", 1, max_payload_chars))
    kernel = functools.partial(extract_batch,
                               allowed_fields=schema_field_names(schema),
                               redact_fields=redact_fields)
    lead = [] if lead_key is None else [lead_key]
    results, tally = map_kernel(
        _range_exchange(transcripts, *lead), kernel,
        output_schema_ddl(redact_fields is not None))
    ddl = LINEAGE_DDL + (", redaction_residuals long"
                         if redact_fields is not None else "")
    return (results.sortWithinPartitions(*lead, "conv_id", "turn_idx"),
            functools.partial(_lineage_frame, transcripts.sparkSession,
                              tally, ddl))


def overwrite_partitions(df: DataFrame, col: str, path: str) -> None:
    """The idempotent parquet write of every re-runnable writer: partitioned
    by ``col`` with dynamic partition overwrite, so a re-run or replay
    replaces exactly the ``col`` partitions ``df`` holds and leaves the
    others untouched. The overwrite mode is set per WRITE, not in the
    session conf: a concurrent query sharing the session must never observe
    a mutated global overwrite mode."""
    (df.write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy(col)
     .parquet(path))


def run_pipeline(
    spark: SparkSession,
    input_path: str,
    output_path: str | None = None,
    lineage_path: str | None = None,
    run_id: str = "run-0",
    max_payload_chars: int | None = None,
    schema: dict | None = None,
    drop_confidence: bool = False,
    redact_fields: frozenset[str] | None = None,
    table_format: str | None = "parquet",
    read_snapshot_id: int | None = None,
) -> tuple[DataFrame, Callable[[], DataFrame]]:
    """End-to-end: read → range exchange → extract → sort → optional write.

    Returns ``(results, lineage)`` like :func:`run_extraction`, with the
    lineage rows stamped with ``run_id`` and ``snapshot_id`` in front
    (FIXTURES.md §5); after a write ``lineage()`` holds every partition of
    it. A one-shot run is one snapshot, ``snap-0``; only
    :func:`checkpoint.run_resumable` numbers its snapshots.

    ``table_format``/``read_snapshot_id`` select the input reader (Iceberg
    time travel on a cluster with the runtime jar) — distinct from the
    lineage ``snapshot_id`` of the OUTPUT.

    Writes are idempotent overwrites: the output is replaced, and the
    lineage table is partitioned by ``run_id`` and overwritten per run (a
    rerun of a run id replaces its rows, other runs' rows stay). Read back,
    ``run_id`` is the last column, a directory one: give the reader the
    schema to keep a numeric-looking id a string. ``schema`` enables
    schema-guided extraction (US4) — see :func:`run_extraction`.
    ``drop_confidence`` strips the confidence_scores / low_confidence_fields
    columns from the result (P2 — the reference's ``--confidence`` off path,
    cli/extract.py:130-137).
    """
    if lineage_path and not output_path:
        # the lineage write is nested under the output write — silently
        # skipping it would leave the caller's resume manifest without its
        # lineage table (review r05)
        raise ValueError(
            "run_pipeline: lineage_path requires output_path — lineage is "
            "written alongside the output (pass output_path, or call "
            "the returned lineage after your own action)")
    transcripts = read_transcripts(spark, input_path,
                                   table_format=table_format,
                                   snapshot_id=read_snapshot_id)
    results, kernel_lineage = run_extraction(
        transcripts, schema=schema, max_payload_chars=max_payload_chars,
        redact_fields=redact_fields)
    if drop_confidence:
        results = results.drop("confidence_scores", "low_confidence_fields")

    def lineage() -> DataFrame:
        counts = kernel_lineage()
        return counts.select(sf.lit(run_id).alias("run_id"),
                             sf.lit("snap-0").alias("snapshot_id"),
                             *counts.columns)

    if output_path:
        results.write.mode("overwrite").parquet(output_path)
    if lineage_path:
        # Lineage is tiny — one row per task — one file per run
        overwrite_partitions(lineage().coalesce(1), "run_id", lineage_path)
    return results, lineage


def run_multi_extraction(transcripts: DataFrame
                         ) -> tuple[DataFrame, Callable[[], DataFrame]]:
    """FR-015 flatMap form → (documents, lineage): one row per detected
    document segment (reference: ``extract_document(multi_document=True)``,
    extraction.py:102-119), and :func:`run_extraction`'s lineage, counting
    documents. Same range exchange as the 1:1 kernel; sorted within the
    range partitions on ``(conv_id, turn_idx, doc_idx)``: global order."""
    documents, tally = map_kernel(
        _range_exchange(transcripts),
        extract_documents_batch, MULTIDOC_SCHEMA_DDL)
    return (documents.sortWithinPartitions("conv_id", "turn_idx", "doc_idx"),
            functools.partial(_lineage_frame, transcripts.sparkSession,
                              tally, LINEAGE_DDL))


# ---------------------------------------------------------------------------
# Sinks (reference: cli/batch.py:192-216 — JSON array, JSONL, errors channel)
# ---------------------------------------------------------------------------

RESULT_JSON_COLUMNS = [
    "conv_id", "turn_idx", "payload_kind", "extracted_text", "fields",
    "confidence_scores", "low_confidence_fields", "n_fields", "status",
]


def result_json_column(results: DataFrame) -> DataFrame:
    """One deterministic JSON document per turn: ``to_json(struct(...))``
    with an explicit column order (golden-equality needs stable field order —
    SURVEY.md §2.1 S6; Spark's JSON writer is line-delimited natively = S7)."""
    cols = [c for c in RESULT_JSON_COLUMNS if c in results.columns]
    return results.select(
        "conv_id", "turn_idx",
        sf.to_json(sf.struct(*cols)).alias("result_json"))


def write_json_sinks(results: DataFrame, output_dir: str) -> None:
    """JSONL results + quarantine channel, split by status (cli/batch.py:
    169-174,184-207): good rows to ``results/``, error rows to ``errors/``,
    each in the order of ``results`` (global turn order for
    :func:`run_extraction`'s results).

    The split is two actions over one upstream plan: ``results`` is
    persisted for the call (DISK_ONLY, heap-bounded), so the kernel runs
    once."""
    results = results.persist(StorageLevel.DISK_ONLY)
    try:
        good = results.filter(sf.col("status") != "error")
        bad = results.filter(sf.col("status") == "error")
        result_json_column(good).write.mode("overwrite").json(
            f"{output_dir}/results")
        result_json_column(bad).write.mode("overwrite").json(
            f"{output_dir}/errors")
    finally:
        results.unpersist()


# ---------------------------------------------------------------------------
# Payload classification (reference: services/classification.py:44-120) —
# kind + confidence + alternatives, as pure column expressions.
# ---------------------------------------------------------------------------

PAYLOAD_KINDS = (KIND_HTML, KIND_PDF, KIND_PROSE)


def with_classification(results: DataFrame) -> DataFrame:
    """Attach classification confidence + alternatives: residual probability
    spread uniformly over the other kinds (classification.py:92-99, F24).

    Error rows (``payload_kind='unknown'`` — not a member of PAYLOAD_KINDS)
    get confidence 0.0 and NO alternatives: without the guard the ``k !=
    payload_kind`` filter kept all three kinds and the row carried >1 total
    probability mass, handing the failure channel a confident classification.
    """
    residual = (1.0 - CLASSIFY_CONFIDENCE) / (len(PAYLOAD_KINDS) - 1)
    known = sf.col("payload_kind").isin(*PAYLOAD_KINDS)
    others = sf.filter(
        sf.array(*[sf.lit(k) for k in PAYLOAD_KINDS]),
        lambda k: k != sf.col("payload_kind"))
    alternatives = sf.transform(
        others,
        lambda k: sf.struct(k.alias("kind"),
                            sf.round(sf.lit(residual), 6).alias("confidence")))
    empty = sf.array().cast(
        "array<struct<kind:string,confidence:double>>")
    return results.withColumns({
        "classify_confidence": sf.when(known, sf.lit(CLASSIFY_CONFIDENCE))
                                 .otherwise(sf.lit(0.0)),
        "classify_alternatives": sf.when(known, alternatives).otherwise(empty),
    })


# ---------------------------------------------------------------------------
# Flagship-query entry used by __spark_entry__.py: synthesize transcripts from
# the driver-provided testdata (documents table → deterministic payload
# wrapping) and run the full extraction pipeline over them.
# ---------------------------------------------------------------------------

def transcripts_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministically wrap /root/testdata documents into the transcript
    shape: conv_id from one of 64 hash buckets of doc_id, payload text
    decorated with HTML/PDF/field markup by doc_id residue. Pure column
    expressions."""
    from pyspark.sql import Window

    from br_doc_ocr_spark.synth import _cpf_column

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    h = sf.xxhash64("doc_id").bitwiseAND(sf.lit(0x7FFFFFFFFFFFFFFF))
    cpf = _cpf_column(h)
    date_str = sf.format_string(
        "%02d/%02d/%04d", (h % 28 + 1).cast("int"), (h % 12 + 1).cast("int"),
        (h % 50 + 1975).cast("int"),
    )
    decorated = sf.concat_ws(" ", sf.col("text"), sf.lit("CPF"), cpf,
                             sf.lit("data"), date_str)
    html = sf.concat(
        sf.lit('<html><body><nav><a href="/">Home</a></nav><div id="main"><p>'),
        decorated,
        sf.lit('</p></div><footer><p>Copyright 2026.</p></footer></body></html>'),
    )
    pdf = sf.concat(sf.lit("[72,100,372,112] "), sf.col("text"),
                    sf.lit("\n[72,120,372,132] "), decorated)
    multidoc = sf.concat(decorated, sf.lit("\n---\n"), sf.lit("CNPJ "),
                         sf.lit("12.345.678/0001-90 valor R$ 99,90"))
    kind = h % 5
    payload = (
        sf.when(kind == 0, html)
          .when(kind == 1, pdf)
          .when(kind == 2, decorated)
          .when(kind == 3, multidoc)
          .otherwise(sf.col("text"))
    )
    base = docs.select(
        sf.format_string("conv-%05d", (h % 64).cast("int")).alias("conv_id"),
        sf.col("doc_id"),
        payload.alias("text"),
        sf.element_at(
            sf.array(sf.lit("user"), sf.lit("assistant"), sf.lit("system"), sf.lit("tool")),
            (h % 4 + 1).cast("int"),
        ).alias("role"),
        sf.when(h % 4 == 3, sf.lit("browser")).otherwise(sf.lit("")).alias("tool"),
        (sf.to_timestamp(sf.lit("2026-01-01 00:00:00"))
         + sf.make_interval(secs=(h % 86400).cast("double"))).alias("ts"),
    )
    w = Window.partitionBy("conv_id").orderBy("doc_id")
    return base.withColumn("turn_idx", (sf.row_number().over(w) - 1).cast("int")).select(
        *TRANSCRIPT_COLUMNS
    )


def flagship_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full extraction pipeline over testdata-derived transcripts, summarized
    per (status, payload_kind) — the driver's smoke target."""
    transcripts = transcripts_from_documents(spark, sf_dir)
    results, _ = run_extraction(transcripts)
    return (
        results.groupBy("status", "payload_kind")
        .agg(
            sf.count("*").alias("n_turns"),
            sf.sum("n_fields").alias("total_fields"),
            # rounded so the golden-fixture DuckDB oracle compares stably
            sf.round(sf.avg(sf.length("extracted_text")), 6)
            .alias("avg_extracted_chars"),
        )
        .orderBy("status", "payload_kind")
    )


def compact_parquet(spark: SparkSession, input_path: str, output_path: str,
                    target_file_mb: int = 512,
                    sort_cols: tuple[str, ...] = (),
                    small_file_ratio: float = 0.75) -> dict:
    """Small-file compaction — the Iceberg ``rewrite_data_files`` analog
    for this repo's parquet layout.

    A long-running ingestion (many resume snapshots, per-bucket writes)
    accretes small files; at cluster scale the next reader then pays one
    task + one open per sliver. This is SELECTIVE,
    exactly like ``rewrite_data_files``'s bin-pack strategy (VERDICT r03
    #1): only files smaller than ``small_file_ratio × target_file_mb``
    (Iceberg's MIN_FILE_SIZE default is the same 75% shape) are read and
    rewritten — into ``ceil(small bytes / target)`` outputs via
    ``repartition(n)`` (``coalesce`` would collapse the READ parallelism of
    the very scan doing the rewrite) — while well-sized files are COPIED
    through byte-identical, never re-shuffled: at 100 TB, fixing a few
    thousand small slivers costs the sliver bytes plus a copy, not a
    full-table shuffle. ``sort_cols`` re-sorts within rewritten output
    files (``sortWithinPartitions``) to restore read locality, e.g.
    ``("conv_id", "turn_idx")`` for extraction output — passthrough files
    keep their existing order.

    Hive-partitioned layouts (``bucket=3/part-...parquet`` — what
    :func:`run_resumable` and partitioned sinks produce) are preserved:
    pass-through copies keep their partition subpath, and the rewrite reads
    with ``basePath`` + writes with ``partitionBy`` so partition columns
    survive both as columns and as directory layout; rewritten rows are
    co-located by partition value (one bin-packed file per value per
    output task — a single partition value larger than the target is not
    split further).

    Writes to ``output_path`` (caller swaps directories when compacting in
    place — same contract as Iceberg's rewrite-then-commit); compacting
    directly onto the input raises — Spark's overwrite would delete the
    source while the rewriting scan reads it. Returns ``{files_before,
    files_after, bytes, rows, rewritten_files, rewritten_bytes,
    copied_files}``.

    File listing/sizing goes through the Hadoop FileSystem API so any URI
    scheme the cluster can read (``hdfs://``, ``s3a://``, local) sizes
    correctly — a driver-side ``os.walk`` would silently see zero bytes
    for a remote table and collapse it to one output file.
    """
    import math

    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()

    def _hpath(p: str):
        return jvm.org.apache.hadoop.fs.Path(p)

    def _qualified(p: str):
        """Fully-qualified Hadoop path: resolves scheme variants
        (``file:/x`` vs ``/x``) and relative paths against the SAME
        FileSystem the listing uses — Python ``abspath`` would mangle
        ``file:/...`` spellings and resolve relative paths against the
        Python cwd instead of the JVM's (review r04)."""
        hp = _hpath(p)
        return hp.getFileSystem(conf).makeQualified(hp)

    in_q = _qualified(input_path)
    in_qs = str(in_q)
    out_qs = str(_qualified(output_path))
    # ancestor check BOTH ways, not bare equality: an input nested under
    # output_path ('/t/raw' → '/t') is recursively DELETED by the
    # mode('overwrite') before/while the rewrite scans it — silent source
    # data loss; an output nested under input would be listed as its own
    # input on a re-run (review r05)
    if (in_qs == out_qs or in_qs.startswith(out_qs.rstrip("/") + "/")
            or out_qs.startswith(in_qs.rstrip("/") + "/")):
        raise ValueError(
            "compact_parquet: output_path equals or nests with input_path "
            f"({in_qs} vs {out_qs}) — the overwrite would delete the source "
            "mid-scan; write to a sibling directory and swap "
            "(rewrite-then-commit)")

    def _parquet_files(path: str) -> list[tuple[str, int]]:
        hpath = _hpath(path)
        fs = hpath.getFileSystem(conf)
        it = fs.listFiles(hpath, True)
        out = []
        while it.hasNext():
            status = it.next()
            if status.getPath().getName().endswith(".parquet"):
                out.append((status.getPath().toString(), status.getLen()))
        return out

    listing = _parquet_files(input_path)
    if not listing:
        # zero parquet files: reading the (empty) output back for the rows
        # count would fail parquet schema inference with AnalysisException —
        # return empty stats instead (ADVICE r04). Still CREATE output_path
        # (like every non-empty branch does): rewrite-then-swap callers
        # rename/list it unconditionally, and a missing directory would
        # fail them only on the empty-table edge (review r05)
        out_hp = _hpath(output_path)
        out_hp.getFileSystem(conf).mkdirs(out_hp)
        return {"files_before": 0, "files_after": 0, "bytes": 0,
                "rewritten_files": 0, "rewritten_bytes": 0,
                "copied_files": 0, "rows": 0}
    bytes_total = sum(s for _, s in listing)
    threshold = int(small_file_ratio * target_file_mb * 1024 * 1024)
    small = [(p, s) for p, s in listing if s < threshold]
    large = [(p, s) for p, s in listing if s >= threshold]
    small_bytes = sum(s for _, s in small)

    # Hive-partitioned layouts (bucket=3/part-...parquet — exactly what
    # run_resumable and partitioned sinks produce) need two extra contracts:
    # pass-through copies must keep their partition SUBPATH (same-named part
    # files from different partition dirs would otherwise overwrite each
    # other in the output root), and the rewrite must read with basePath +
    # write with partitionBy so the partition columns survive as columns
    # and as directory layout.
    in_root = in_q.toUri().getPath().rstrip("/") + "/"

    def _rel(p: str) -> str:
        # scheme/authority-free path component (listed files come back with
        # a scheme — file:/... — even when the input path had none)
        sp = _hpath(p).toUri().getPath()
        if not sp.startswith(in_root):
            raise ValueError(
                f"compact_parquet: listed file {p} is not under {input_path}")
        return sp[len(in_root):]

    def _part_keys(rel: str) -> tuple[str, ...]:
        return tuple(seg.split("=", 1)[0] for seg in rel.split("/")[:-1]
                     if "=" in seg)

    key_sets = {_part_keys(_rel(p)) for p, _ in listing}
    if len(key_sets) > 1:
        raise ValueError(
            f"compact_parquet: inconsistent partition layouts under "
            f"{input_path}: {sorted(key_sets)} — compact one consistent "
            f"table at a time")
    part_keys = next(iter(key_sets)) if key_sets else ()

    out_fs = _hpath(output_path).getFileSystem(conf)
    if small:
        n_files = max(1, math.ceil(small_bytes
                                   / (target_file_mb * 1024 * 1024)))
        reader = spark.read
        if part_keys:
            reader = reader.option("basePath", input_path)
        df = reader.parquet(*[p for p, _ in small])
        if part_keys:
            # keep whole partition values together so partitionBy writes
            # ceil-bin-packed files per partition dir instead of n x values
            out = df.repartition(n_files, *part_keys)
        else:
            out = df.repartition(n_files)
        if sort_cols:
            out = out.sortWithinPartitions(*sort_cols)
        writer = out.write.mode("overwrite")
        if part_keys:
            writer = writer.partitionBy(*part_keys)
        writer.parquet(output_path)
    else:
        out_fs.mkdirs(_hpath(output_path))
    # pass well-sized files through untouched: byte-for-byte FileSystem copy,
    # no scan, no shuffle — preserving each file's partition subpath (source
    # part-file names are uuid-unique only WITHIN a directory)
    FileUtil = jvm.org.apache.hadoop.fs.FileUtil
    for p, _ in large:
        src = _hpath(p)
        dst = _hpath(f"{output_path}/{_rel(p)}")
        out_fs.mkdirs(dst.getParent())
        FileUtil.copy(src.getFileSystem(conf), src, out_fs, dst, False, conf)
    files_after = len(_parquet_files(output_path))
    return {"files_before": len(listing), "files_after": files_after,
            "bytes": bytes_total,
            "rewritten_files": len(small), "rewritten_bytes": small_bytes,
            "copied_files": len(large),
            "rows": spark.read.parquet(output_path).count()}
