"""Manifest-based resumable runs (the north rule's "resumable from Iceberg
snapshot checkpoints" — rendered over parquet because the sandbox ships no
Iceberg jars; the layout is Iceberg-compatible: a stable bucket partition
spec, snapshot ids in the manifest and lineage, idempotent
overwrite-by-partition writes).

Reference analog: checkpoint/resume in ``services/training.py:246-303``
(``save_checkpoint`` / resume-from-latest, ``save_total_limit``) generalized
to data-parallel batch semantics:

- the input is bucketed by ``pmod(xxhash64(conv_id), n_buckets)`` — a
  deterministic, data-independent partition spec (same conv always lands in
  the same bucket, so a resume never splits a conversation's turns across a
  done/pending boundary);
- each completed bucket's output is written under ``bucket=<k>/`` via dynamic
  partition overwrite (idempotent: re-running a bucket replaces, never
  duplicates);
- the one range exchange leads with the bucket, ``(bucket, conv_id,
  turn_idx)``: each task holds a run of consecutive buckets and writes a
  file only into those, so an invocation writes at most (buckets + tasks
  - 1) files instead of one per task and bucket, and a hot conversation's
  bucket is still cut at sampled turn boundaries;
- a JSON manifest records completed buckets per snapshot; on resume, pending
  work = all buckets ANTI-JOIN manifest (driver-side set difference — the
  manifest is tiny);
- lineage rows carry the snapshot id (FIXTURES.md §5).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql import functions as sf

from br_doc_ocr_spark.pipeline import (
    overwrite_partitions,
    read_transcripts,
    run_extraction,
)

BUCKET_COL = "bucket"


@dataclass
class Manifest:
    """Snapshot manifest: which buckets of which run are complete, plus the
    input pin (``table_format`` / ``read_snapshot_id``) the first invocation
    read under — a resume that silently read a DIFFERENT input snapshot
    would mix rows from two snapshots in one output table (completed buckets
    are never re-read), so the pin is part of the manifest contract."""

    path: str
    run_id: str = "run-0"
    n_buckets: int = 16
    completed: dict[str, list[int]] = field(default_factory=dict)  # snapshot → buckets
    # None = unpinned (fresh manifest, or one written before pins existed —
    # a legacy manifest must NOT masquerade as an explicit 'parquet' pin)
    table_format: str | None = None
    read_snapshot_id: int | None = None

    @classmethod
    def load_or_create(cls, path: str, run_id: str, n_buckets: int) -> "Manifest":
        if os.path.exists(path):
            with open(path, encoding="utf-8") as f:
                data = json.load(f)
            if data["n_buckets"] != n_buckets or data["run_id"] != run_id:
                raise ValueError(
                    f"manifest at {path} belongs to run {data['run_id']} with "
                    f"{data['n_buckets']} buckets; refusing to mix partition specs")
            m = cls(path=path, run_id=run_id, n_buckets=n_buckets,
                    table_format=data.get("table_format"),
                    read_snapshot_id=data.get("read_snapshot_id"))
            m.completed = {k: list(v) for k, v in data["completed"].items()}
            return m
        return cls(path=path, run_id=run_id, n_buckets=n_buckets)

    def completed_buckets(self) -> set[int]:
        done: set[int] = set()
        for buckets in self.completed.values():
            done.update(buckets)
        return done

    def pending_buckets(self) -> list[int]:
        return sorted(set(range(self.n_buckets)) - self.completed_buckets())

    def record_snapshot(self, snapshot_id: str, buckets: list[int]) -> None:
        self.completed[snapshot_id] = sorted(buckets)
        tmp = self.path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump({"run_id": self.run_id, "n_buckets": self.n_buckets,
                       "table_format": self.table_format,
                       "read_snapshot_id": self.read_snapshot_id,
                       "completed": self.completed}, f, indent=2)
        os.replace(tmp, self.path)  # atomic publish — crash-safe

    def resolve_input_pin(self, table_format: str | None,
                          read_snapshot_id: int | None,
                          loaded: bool) -> tuple[str, int | None]:
        """Reconcile the caller's input pin with the manifest's.

        First run (``loaded=False``): record the caller's pin (format
        defaults to parquet). Resume: the stored pin wins when the caller
        omits one (``table_format=None`` / ``read_snapshot_id=None``); an
        explicit CONFLICTING pin raises instead of silently mixing input
        snapshots under one manifest (ADVICE r03). A legacy manifest written
        before pins existed (stored format None) adopts and records the
        caller's values rather than hard-failing the resume loop (review
        r04): it carries no evidence of what the first run read, so the
        caller's word is the best available — the adoption is persisted on
        the next snapshot commit."""
        if not loaded or self.table_format is None:
            self.table_format = table_format or "parquet"
            if read_snapshot_id is not None or not loaded:
                self.read_snapshot_id = read_snapshot_id
            return self.table_format, self.read_snapshot_id
        if table_format is not None and table_format != self.table_format:
            raise ValueError(
                f"manifest at {self.path} was created with table_format="
                f"{self.table_format!r}; resuming with {table_format!r} "
                "would mix input tables under one manifest")
        if (read_snapshot_id is not None
                and read_snapshot_id != self.read_snapshot_id):
            raise ValueError(
                f"manifest at {self.path} pinned read_snapshot_id="
                f"{self.read_snapshot_id!r}; resuming with "
                f"{read_snapshot_id!r} would mix rows from two input "
                "snapshots (completed buckets are never re-read)")
        return self.table_format, self.read_snapshot_id


def bucket_of(conv_id_col, n_buckets: int):
    return sf.pmod(sf.xxhash64(conv_id_col), sf.lit(n_buckets)).cast("int")


def run_resumable(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    manifest_path: str,
    lineage_path: str | None = None,
    n_buckets: int = 16,
    run_id: str = "run-0",
    max_buckets_per_snapshot: int | None = None,
    table_format: str | None = None,
    read_snapshot_id: int | None = None,
) -> dict:
    """Process pending buckets, snapshot the manifest, return a summary.

    ``max_buckets_per_snapshot`` bounds one invocation's work (simulates an
    interrupted run; production analog: one Iceberg snapshot commit per group
    of completed partitions). Call again to resume — completed buckets are
    never re-PROCESSED: the bucket filter prunes their rows before the
    extraction kernel. The input SCAN itself is full each resume (the
    bucket column is computed, not a storage partition); on an input table
    partitioned or bucketed by conv_id hash the same filter would prune
    the scan too.

    One invocation with a lineage path runs 4 Spark jobs (none with nothing
    pending): the range exchange's sampling and map-stage jobs, the
    bucketed write and the lineage write. The input is read with its
    declared schema (``pipeline.read_transcripts``), so no schema-inference
    job runs, and is ranged and sorted on ``(bucket, conv_id, turn_idx)``;
    that sort also meets the bucketed writer's required order, and each
    task writes a file only into the buckets its range holds: at most
    (pending buckets + tasks - 1) files.

    ``table_format``/``read_snapshot_id`` select the input reader
    (``pipeline.read_transcripts``); pinning an Iceberg read snapshot
    matters MOST here — a resume that reads a newer snapshot than the
    first invocation would process different rows under the same manifest.
    The first invocation's pin is therefore RECORDED in the manifest: a
    resume defaults to the stored pin and raises on an explicit conflicting
    one (:meth:`Manifest.resolve_input_pin`).
    """
    t_start = time.perf_counter()
    loaded = os.path.exists(manifest_path)
    manifest = Manifest.load_or_create(manifest_path, run_id, n_buckets)
    table_format, read_snapshot_id = manifest.resolve_input_pin(
        table_format, read_snapshot_id, loaded)
    all_pending = manifest.pending_buckets()
    pending = all_pending
    if max_buckets_per_snapshot is not None:
        pending = pending[:max_buckets_per_snapshot]
    if not pending:
        # pending_after reports the FULL pending set, not the slice: with
        # max_buckets_per_snapshot=0 the slice is empty while buckets
        # remain, and a resume loop that terminates on empty pending_after
        # would exit believing the run complete (review r05)
        return {"processed_buckets": [], "pending_after": all_pending,
                "rows": 0}

    snapshot_id = f"snap-{len(manifest.completed):05d}"
    bucket = bucket_of(sf.col("conv_id"), n_buckets)
    todo = read_transcripts(
        spark, input_path, table_format=table_format,
        snapshot_id=read_snapshot_id,
    ).filter(bucket.isin([int(b) for b in pending]))

    # Ranged and sorted on (bucket, conv_id, turn_idx): each task holds a
    # run of consecutive buckets, in the order the bucketed writer needs,
    # so it writes a file only into the buckets it holds.
    results, lineage = run_extraction(todo, lead_key=bucket)
    # Idempotent per-bucket publish: dynamic partition overwrite replaces
    # exactly the buckets written here, leaving completed ones untouched.
    overwrite_partitions(results.withColumn(BUCKET_COL, bucket),
                         BUCKET_COL, output_path)

    # the kernel's tally of that write: pending buckets holding zero rows
    # give an empty frame of the lineage schema
    counts = lineage()
    if lineage_path:
        # Partitioned by snapshot_id with dynamic overwrite so a crash
        # BETWEEN this write and record_snapshot cannot double-count: the
        # resume regenerates the SAME snapshot id (len(completed) is
        # unchanged) and replaces its own partition instead of appending a
        # second identical batch (review r05 — plain append duplicated
        # lineage rows on exactly that crash window).
        overwrite_partitions(
            counts.select(sf.lit(run_id).alias("run_id"), *counts.columns,
                          sf.lit(snapshot_id).alias("snapshot_id"))
            .coalesce(1),
            "snapshot_id", lineage_path)
    # reporting rows=0 for a run that processed millions of rows misleads
    # resume loops and operators (review r05)
    n_rows = sum(r["row_count"] for r in counts.collect())

    # The manifest commits LAST — a crash before this line leaves the buckets
    # unrecorded and they are simply re-overwritten on resume (idempotent).
    manifest.record_snapshot(snapshot_id, pending)
    return {
        "processed_buckets": pending,
        "pending_after": manifest.pending_buckets(),
        "snapshot_id": snapshot_id,
        "rows": n_rows,
        "wall_clock_s": round(time.perf_counter() - t_start, 3),
    }
