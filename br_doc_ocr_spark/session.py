"""SparkSession factory with the scale-oriented configuration the job needs.

These confs are the sandbox (local[N]) rendering of the 1000-executor design:
Arrow on (the extraction kernel crosses the JVM↔Python boundary in columnar
batches), shuffle partitions sized to the core count, and small-file control
on writes. AQE (runtime re-plan, skew-join splitting, partition coalescing)
is on by Spark's default: only confs that differ from a default are set.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# local[N] default: the CPUs this process may run on (affinity, so a
# cpuset/taskset-limited container is not oversubscribed), overridable by
# SPARK_GRAFT_CPUS
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or (
    len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity")
    else os.cpu_count() or 1))


def driver_memory_for(cpus: int) -> str:
    """Heap sized to task concurrency: ~0.75 GiB per local task slot
    (each can hold an open parquet writer's ~128 MiB row-group buffer plus
    Arrow/shuffle buffers), 8 GiB floor; SPARK_GRAFT_DRIVER_MEM overrides.

    CAVEAT (review r04): in local mode ``spark.driver.memory`` only takes
    effect for the FIRST JVM launched in a Python process — the py4j
    gateway survives SparkContext stop/start, so later ``build_session``
    calls in the same process silently keep the first session's heap.
    Callers running multiple sessions per process (bench.py's scaling
    legs) must make the FIRST session the largest, or run each sizing in
    a fresh process."""
    return os.environ.get("SPARK_GRAFT_DRIVER_MEM",
                          f"{max(8, (cpus * 3) // 4)}g")


def _master_is_configured() -> bool:
    """Whether the caller's environment already carries a Spark master —
    in which case :func:`build_session` must NOT force ``local[N]``: under
    ``spark-submit --master yarn/k8s`` an unconditional ``.master()``
    override silently ran the whole 1000-executor job single-node on the
    driver (review r05 — cli.py documents this contract).

    Detection is by HOW the JVM was launched, not by live spark.master
    properties: user-run spark-submit starts the JVM first and launches
    this Python process as a child WITH ``PYSPARK_GATEWAY_PORT`` set; an
    explicit master can also arrive via ``PYSPARK_SUBMIT_ARGS``. A
    ``SparkConf(loadDefaults)`` probe is NOT usable here — plain
    ``python`` launches its JVM through spark-submit internally, so after
    the FIRST session the master lands in JVM system properties and a
    later ``build_session(cpus=k)`` in the same process would silently
    keep the first session's core count (caught live: it pinned
    bench.py's 4-core scaling leg to ``local[32]``)."""
    return ("PYSPARK_GATEWAY_PORT" in os.environ
            or "--master" in os.environ.get("PYSPARK_SUBMIT_ARGS", ""))


def build_session(
    app_name: str = "br-doc-ocr-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    builder = SparkSession.builder.appName(app_name)
    if not _master_is_configured():
        # spark.driver.memory is the local-mode rendering of executor
        # sizing; under spark-submit it comes from the submit args and
        # cannot be changed after JVM launch anyway
        builder = (builder.master(f"local[{cpus}]")
                   .config("spark.driver.memory", driver_memory_for(cpus)))
    builder = (
        builder
        # --- shuffle sizing: one partition per core at test scale; on a real
        # cluster this scales with executor count (set via spark-submit) ---
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # --- Arrow: the only sanctioned Python crossing is columnar ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        # --- cached-batch sizing: DISK_ONLY persists store columnar
        # batches; the 10 000-row default holds ~10-60 MiB per batch with
        # KB-scale text columns, and 32 concurrent scan tasks × build +
        # decompress spikes OOMed a 24 g heap at 20M rows (a kernel-output
        # cache no extraction write builds any more). 1 000 rows bounds
        # the per-task batch working set ~10× at negligible scan cost for
        # the persists that remain: pipeline.write_json_sinks,
        # dataset.write_training_dataset, cli curate and
        # evaluation.evaluate(persist=True). ---
        .config("spark.sql.inMemoryColumnarStorage.batchSize", "1000")
        # --- small-file control on sinks ---
        .config("spark.sql.files.maxRecordsPerFile", "2000000")
        # --- deterministic timestamp behavior across engines ---
        .config("spark.sql.session.timeZone", "UTC")
        # (spark.driver.memory is set in the local-only branch above:
        # local[32] at a fixed 8 GiB OOMed the ordered write at 20M rows —
        # the local-mode rendering of sizing executor memory to
        # --executor-cores, see driver_memory_for)
        .config("spark.ui.enabled", "false")
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
