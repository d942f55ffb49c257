"""The traced run: per-layer metrics measured from outside the package.

Three sources, none of them inside ``br_doc_ocr_spark``:

- Spark's own event log, written by a second session of the same JVM with
  ``spark.eventLog.enabled``; task-end metrics and accumulables of the
  traced repetitions give scan, salted-shuffle, Arrow-crossing, sink and GC
  figures;
- cumulative prefixes of the extraction plan (scan, + salted shuffle,
  + identity ``mapInPandas``, + kernel) each written to a noop sink, so a
  layer's time is the difference of two neighbouring prefixes;
- single-core timers around the kernel's public functions, on a seeded
  sample of the workload's own rows.

Every per-layer metric is reported on every workload; a layer the
workload does not exercise reports 0. The catalog queries (``queries.*``)
have no end-to-end workload of their own: the traced run of doc_extract
times them on seeded tables, after comparing each with its DuckDB oracle.
"""

from __future__ import annotations

import glob
import json
import math
import os
import statistics
import time

import workloads

PHASE = "perfbench.phase"
TRACED_REPS = 2
PREFIX_REPS = 2
KERNEL_SAMPLE = {"doc_extract": 2_000, "hotkey_resume": 6_000}
KERNEL_REPS = 5
MB = 1e6

# name → unit, in the order they are printed
METRICS = {
    "session.build_session.s": "s",
    "pipeline.read_transcripts.scan_s": "s",
    "pipeline.read_transcripts.scan_task_s": "s",
    "pipeline.read_transcripts.bytes_read_mb": "MB",
    "pipeline.run_extraction.shuffle_s": "s",
    "pipeline.run_extraction.shuffle_write_mb": "MB",
    "pipeline.run_extraction.shuffle_write_s": "s",
    "pipeline.run_extraction.fetch_wait_s": "s",
    "pipeline.run_extraction.task_skew": "ratio",
    "pipeline.run_extraction.crossing_s": "s",
    "pipeline.run_extraction.py_start_s": "s",
    "pipeline.run_extraction.py_run_s": "s",
    "pipeline.run_extraction.arrow_to_py_mb": "MB",
    "pipeline.run_extraction.arrow_from_py_mb": "MB",
    "pipeline.run_extraction.arrow_batches": "count",
    "pipeline.run_extraction.kernel_s": "s",
    "core.extract.extract_batch.us_per_turn": "us",
    "core.textops.detect_payload_kind.us_per_turn": "us",
    "core.textops.strip_html.us_per_html_turn": "us",
    "core.textops.parse_pdf_layout.us_per_pdf_turn": "us",
    "core.extract.scan_fields.us_per_turn": "us",
    "core.fields.flags_status.us_per_turn": "us",
    "core.extract.extract_batch.assembly_us_per_turn": "us",
    "core.extract.scan_fields.hint_hit_share": "share",
    "core.textops.kind_share.html": "share",
    "core.textops.kind_share.pdf": "share",
    "core.textops.kind_share.prose": "share",
    "core.extract.status_share.success": "share",
    "core.extract.status_share.partial": "share",
    "core.extract.status_share.failed": "share",
    "core.extract.status_share.error": "share",
    "pipeline.with_stable_order.sink_s": "s",
    "pipeline.with_stable_order.sink_mb_written": "MB",
    "pipeline.run_pipeline.gc_s": "s",
    "checkpoint.run_resumable.invocations": "count",
    "checkpoint.run_resumable.invocation_s_median": "s",
    "checkpoint.run_resumable.invocation_s_max": "s",
    "checkpoint.run_resumable.rescan_mb": "MB",
    **{f"queries.{q}.s": "s" for q in workloads.CATALOG_QUERIES},
    "trace.untraced_wall_s": "s",
    "trace.traced_wall_s": "s",
    "trace.overhead_share": "share",
    "trace.layer_cover_share": "share",
}


def _noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _identity(batches):
    yield from batches


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

def _accum(task_end: dict) -> dict[str, float]:
    out: dict[str, float] = {}
    for acc in task_end["Task Info"].get("Accumulables", []):
        try:
            out[acc["Name"]] = out.get(acc["Name"], 0.0) + float(acc["Update"])
        except (KeyError, TypeError, ValueError):
            continue
    return out


def _scan_size_accums(plan: dict, input_path: str, out: set) -> None:
    """Accumulator ids of "size of files read" on scans of ``input_path``."""
    if input_path in (plan.get("metadata") or {}).get("Location", ""):
        out.update(m["accumulatorId"] for m in plan.get("metrics", [])
                   if m["name"] == "size of files read")
    for child in plan.get("children", []):
        _scan_size_accums(child, input_path, out)


def read_event_log(log_dir: str, phase: str, batch_rows: int,
                   input_path: str) -> tuple[dict, dict]:
    """Task metrics of the jobs tagged ``phase``, summed per layer, and the
    input bytes scanned per run_resumable invocation.

    The scanned bytes are the driver-side "size of files read" of the scans
    of ``input_path``, per SQL execution. The tasks' Input Metrics cannot
    stand in for them: the vectorized parquet reader reports almost none of
    the bytes it reads, and a re-read of a persisted result counts as input
    too."""
    path, = glob.glob(os.path.join(log_dir, "*"))
    stage_phase: dict[int, str] = {}
    exec_tags: dict[str, tuple] = {}
    scan_accums: set = set()
    scan_updates: list[tuple[str, int, float]] = []
    tasks: list[dict] = []
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                for sid in ev["Stage IDs"]:
                    stage_phase[sid] = props.get(PHASE)
                exec_id = props.get("spark.sql.execution.id")
                if exec_id is not None:
                    exec_tags[exec_id] = (props.get(PHASE),
                                          props.get(workloads.INVOCATION))
            elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                tasks.append(ev)
            elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                _scan_size_accums(ev["sparkPlanInfo"], input_path, scan_accums)
            elif kind.endswith("DriverAccumUpdates"):
                scan_updates += [(str(ev["executionId"]), acc, float(v))
                                 for acc, v in ev["accumUpdates"]]
    m = {k: 0.0 for k in ("scan_task_s", "bytes_read_mb", "shuffle_write_mb",
                          "shuffle_write_s", "fetch_wait_s", "py_start_s",
                          "py_run_s", "arrow_to_py_mb", "arrow_from_py_mb",
                          "arrow_batches", "sink_mb_written", "gc_s")}
    scan_by_inv: dict[str, float] = {}
    for exec_id, acc, v in scan_updates:
        ex_phase, inv = exec_tags.get(exec_id, (None, None))
        if acc in scan_accums and ex_phase == phase:
            m["bytes_read_mb"] += v / MB
            if inv is not None:
                scan_by_inv[inv] = scan_by_inv.get(inv, 0.0) + v / MB
    kernel_runs: dict[int, list[float]] = {}
    for ev in tasks:
        if stage_phase.get(ev["Stage ID"]) != phase:
            continue
        tm, acc = ev["Task Metrics"], _accum(ev)
        m["sink_mb_written"] += tm["Output Metrics"]["Bytes Written"] / MB
        m["gc_s"] += tm["JVM GC Time"] / 1e3
        if "scan time" in acc:
            # the scan stage writes the salted shuffle
            m["scan_task_s"] += acc["scan time"] / 1e3
            sw = tm["Shuffle Write Metrics"]
            m["shuffle_write_mb"] += sw["Shuffle Bytes Written"] / MB
            m["shuffle_write_s"] += sw["Shuffle Write Time"] / 1e9
        if "time to run Python workers" in acc:
            rows = tm["Shuffle Read Metrics"]["Total Records Read"]
            m["fetch_wait_s"] += tm["Shuffle Read Metrics"]["Fetch Wait Time"] / 1e3
            m["py_start_s"] += acc.get("time to start Python workers", 0.0) / 1e3
            m["py_run_s"] += acc["time to run Python workers"] / 1e3
            m["arrow_to_py_mb"] += acc.get("data sent to Python workers", 0.0) / MB
            m["arrow_from_py_mb"] += acc.get("data returned from Python workers", 0.0) / MB
            m["arrow_batches"] += math.ceil(rows / batch_rows)
            kernel_runs.setdefault(ev["Stage ID"], []).append(tm["Executor Run Time"])
    skews = [max(r) / max(statistics.median(r), 1) for r in kernel_runs.values() if r]
    m["task_skew"] = statistics.median(skews) if skews else 0.0
    return m, scan_by_inv


# ---------------------------------------------------------------------------
# kernel timers (one core, in this process)
# ---------------------------------------------------------------------------

def _median_time(fn) -> float:
    """Median of KERNEL_REPS timings of ``fn()``."""
    times = []
    for _ in range(KERNEL_REPS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def kernel(wl) -> dict:
    from br_doc_ocr_spark.core import extract, textops
    from br_doc_ocr_spark.core import fields as F

    df = wl.transcripts()
    df = df.sample(n=min(KERNEL_SAMPLE[wl.name], len(df)),
                   random_state=wl.seed).reset_index(drop=True)
    texts = df["text"].tolist()
    n = len(texts)
    us = 1e6 / n

    def batches():
        return [extract.extract_batch(df.iloc[i:i + 4096])
                for i in range(0, n, 4096)]

    # batch and per-turn passes alternate, so the assembly estimate (their
    # difference) compares neighbouring timings; it is below the timer's
    # resolution when it comes out negative
    pairs = []
    for _ in range(KERNEL_REPS):
        t0 = time.perf_counter()
        batches()
        t1 = time.perf_counter()
        for t in texts:
            extract.extract_turn(t)
        pairs.append((t1 - t0, time.perf_counter() - t1))
    t_batch = statistics.median(b for b, _ in pairs)
    t_assembly = statistics.median(b - t for b, t in pairs)
    t_kind = _median_time(lambda: [textops.detect_payload_kind(t) for t in texts])
    kinds = [textops.detect_payload_kind(t) for t in texts]
    html = [t for t, k in zip(texts, kinds) if k == textops.KIND_HTML]
    pdf = [t for t, k in zip(texts, kinds) if k == textops.KIND_PDF]
    t_html = _median_time(lambda: [textops.strip_html(t) for t in html])
    t_pdf = _median_time(lambda: [textops.parse_pdf_layout(t) for t in pdf])
    t_scan = _median_time(lambda: [extract.scan_fields(t) for t in texts])
    scans = [extract.scan_fields(t) for t in texts]
    t_flags = _median_time(lambda: [F.derive_status(f, F.flag_low_confidence(s))
                                for f, _, s in scans])
    hint = getattr(extract, "_ANY_FIELD_HINT", None)
    attempted = sum(1 for t in texts if t and (hint is None or hint.search(t)))
    useful = sum(1 for f, _, _ in scans if f)
    status = [s for b in batches() for s in b["status"]]
    p = "core.extract."
    return {
        p + "extract_batch.us_per_turn": t_batch * us,
        "core.textops.detect_payload_kind.us_per_turn": t_kind * us,
        "core.textops.strip_html.us_per_html_turn": t_html * 1e6 / max(len(html), 1),
        "core.textops.parse_pdf_layout.us_per_pdf_turn": t_pdf * 1e6 / max(len(pdf), 1),
        p + "scan_fields.us_per_turn": t_scan * us,
        "core.fields.flags_status.us_per_turn": t_flags * us,
        p + "extract_batch.assembly_us_per_turn": t_assembly * us,
        p + "scan_fields.hint_hit_share": useful / max(attempted, 1),
        **{f"core.textops.kind_share.{k}": kinds.count(k) / n
           for k in ("html", "pdf", "prose")},
        **{f"{p}status_share.{s}": status.count(s) / n
           for s in ("success", "partial", "failed", "error")},
    }


# ---------------------------------------------------------------------------
# the traced run
# ---------------------------------------------------------------------------

def _prefixes(spark, wl, partitions: int) -> dict:
    """Cumulative plan prefixes into a noop sink, median of PREFIX_REPS."""
    from pyspark.sql import functions as sf

    from br_doc_ocr_spark import pipeline

    scan = pipeline.read_transcripts(spark, wl.input_path)
    # the same salted exchange run_extraction builds (salt 8 by default)
    salted = scan.repartition(partitions, sf.col("conv_id"),
                              sf.pmod(sf.col("turn_idx"), sf.lit(8)))
    crossing = salted.mapInPandas(_identity, schema=salted.schema)
    kernel_df, _ = pipeline.run_extraction(scan)
    out = {}
    for name, df in (("scan", scan), ("shuffle", salted),
                     ("crossing", crossing), ("kernel", kernel_df)):
        spark.sparkContext.setLocalProperty(PHASE, f"prefix-{name}")
        out[name] = statistics.median(_noop(df) for _ in range(PREFIX_REPS))
    spark.sparkContext.setLocalProperty(PHASE, None)
    return out


def catalog(spark, wl) -> tuple[dict, list[list[str]]]:
    """The ops/-backed catalog queries on seeded tables: each compared once
    with its DuckDB oracle, which also warms its plan, then timed once into
    a noop sink → (seconds per query, gates)."""
    cat = workloads.CatalogOps(wl.seed, os.path.join(wl.work, "catalog"),
                               wl.cache)
    spark.sparkContext.setLocalProperty(PHASE, "catalog")
    gates = cat.oracle_checks(spark)
    times = cat.time_queries(spark)
    spark.sparkContext.setLocalProperty(PHASE, None)
    return {f"queries.{q}.s": t for q, t in times.items()}, gates


def run(spark, wl, args, reps: list[dict], setup_times: dict, conf) -> dict:
    """Per-layer metrics → {name: (value, unit)}, plus ``_spark`` (the
    stopped traced session, for the caller to shut down) and ``_gates`` (the
    gates run here: each traced repetition's output and the catalog
    oracles)."""
    from br_doc_ocr_spark import pipeline
    from br_doc_ocr_spark.session import build_session

    import checks

    untraced = statistics.median(r["wall_s"] for r in reps)
    spark.stop()
    extra = conf(True)
    spark = build_session(app_name=f"perfbench-{wl.name}-traced", cpus=args.cpus,
                          shuffle_partitions=args.shuffle_partitions,
                          extra_conf=extra)
    # restart the Python workers the new context needs, untimed
    pipeline.run_extraction(pipeline.read_transcripts(
        spark, checks.GOLDEN_INPUT))[0].write.format("noop").mode("overwrite").save()
    spark.sparkContext.setLocalProperty(PHASE, "rep")
    traced = []
    for _ in range(TRACED_REPS):
        workloads.collect_heap(spark)
        traced.append(wl.rep(spark))
    spark.sparkContext.setLocalProperty(PHASE, None)
    traced_wall = statistics.median(r["wall_s"] for r in traced)
    gates = [g for r in traced for g in wl.verify(spark, r)]

    m = {k: 0.0 for k in METRICS}
    m["session.build_session.s"] = setup_times["build_session_s"]
    m["trace.untraced_wall_s"] = untraced
    m["trace.traced_wall_s"] = traced_wall
    m["trace.overhead_share"] = traced_wall / untraced - 1.0

    p = _prefixes(spark, wl, args.shuffle_partitions)
    m.update(kernel(wl))
    sink = traced_wall - p["kernel"]
    m["pipeline.read_transcripts.scan_s"] = p["scan"]
    m["pipeline.run_extraction.shuffle_s"] = p["shuffle"] - p["scan"]
    m["pipeline.run_extraction.crossing_s"] = p["crossing"] - p["shuffle"]
    m["pipeline.run_extraction.kernel_s"] = p["kernel"] - p["crossing"]
    m["pipeline.with_stable_order.sink_s"] = sink
    # the single-core kernel estimate stands in for the in-plan kernel time,
    # so the share shows how far the separately timed layers explain the wall
    kernel_est = (m["core.extract.extract_batch.us_per_turn"] * wl.turns
                  / 1e6 / args.cpus)
    m["trace.layer_cover_share"] = (p["crossing"] + kernel_est + sink) / traced_wall
    batch_rows = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    if wl.name == "hotkey_resume":
        inv = [t for r in traced for t in r["invocations"]]
        m["checkpoint.run_resumable.invocations"] = len(inv) / len(traced)
        m["checkpoint.run_resumable.invocation_s_median"] = statistics.median(inv)
        m["checkpoint.run_resumable.invocation_s_max"] = max(inv)
    else:
        queries, q_gates = catalog(spark, wl)
        m.update(queries)
        gates += q_gates
    spark.stop()

    ev, scan_by_inv = read_event_log(extra["spark.eventLog.dir"][len("file://"):],
                                     "rep", batch_rows, wl.input_path)
    names = {"scan_task_s": "pipeline.read_transcripts.scan_task_s",
             "bytes_read_mb": "pipeline.read_transcripts.bytes_read_mb",
             "sink_mb_written": "pipeline.with_stable_order.sink_mb_written",
             "gc_s": "pipeline.run_pipeline.gc_s"}
    for k, v in ev.items():
        m[names.get(k, f"pipeline.run_extraction.{k}")] = (
            v if k == "task_skew" else v / TRACED_REPS)
    # every invocation after the first scans the input again
    m["checkpoint.run_resumable.rescan_mb"] = sum(
        mb for inv, mb in scan_by_inv.items() if inv != "0") / TRACED_REPS
    out: dict = {k: (float(v), METRICS[k]) for k, v in m.items()}
    out.update(_spark=spark, _gates=gates)
    return out
