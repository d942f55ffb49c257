"""Benchmark entry point.

    python3 perfbench/run.py --workload doc_extract --seed 1 --seconds 16 --trace 0

Run from the repository root. Builds each workload's input from the seed
(cached under ``.perfbench_work/``), starts a ``local[nproc // 2]`` Spark
session through ``br_doc_ocr_spark.session.build_session``, warms up,
repeats the workload for ``--seconds``, checks every output, and prints one
JSON object as the last line of stdout: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before it
is a ``{"detail": ...}`` record with the host gauge, the input description
and every sample behind the medians. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

# Repetitions keep getting faster for many jobs after the first one (JIT of
# the planner, job-submission and Python-worker paths): with one warm-up
# repetition, hotkey_resume's timed repetitions still ran ~10% faster than
# it. The warm-up therefore repeats the full-size workload WARMUP_REPS
# times: a fixed count, so the JVM heap the timed window starts from does
# not depend on how fast the host is.
WARMUP_REPS = 3
MIN_REPS = 3

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

import checks  # noqa: E402  (the benchmark's own modules, from HERE)
import host  # noqa: E402
import workloads  # noqa: E402


def _bail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    raise SystemExit(2)


def _environment(work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    work directory, and let the workers import the package."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)


def spark_conf(work: str, event_log: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # -UsePerfData: the JVM would otherwise write /tmp/hsperfdata_<user>
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    if event_log:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            # reading back the default zstd codec would need the zstandard
            # module, which is not a dependency
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def setup(args, work: str):
    """Session start plus the warm-up a user pays: the first job, here the
    committed golden transcripts through the extraction pipeline. Returns
    (spark, timings, golden-job output)."""
    t0 = time.perf_counter()
    from br_doc_ocr_spark import pipeline
    from br_doc_ocr_spark.session import build_session

    spark = build_session(app_name=f"perfbench-{args.workload}", cpus=args.cpus,
                          shuffle_partitions=args.shuffle_partitions,
                          extra_conf=spark_conf(work, event_log=False))
    t1 = time.perf_counter()
    results, _ = pipeline.run_extraction(
        pipeline.read_transcripts(spark, checks.GOLDEN_INPUT))
    golden = results.toPandas()
    t2 = time.perf_counter()
    return spark, {"setup_s": t2 - t0, "build_session_s": t1 - t0}, golden


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for every child
    process (JVM, Python workers) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while host.descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for pid in host.descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def measure(spark, wl, seconds: float, min_reps: int,
            sampler=None) -> tuple[list[dict], list[list[str]]]:
    """Repeat the workload until ``seconds`` have passed and at least
    ``min_reps`` repetitions ran; verify each repetition's output
    → (repetitions, gates)."""
    reps, gates = [], []
    t_end = time.perf_counter() + seconds
    while len(reps) < min_reps or time.perf_counter() < t_end:
        workloads.collect_heap(spark)
        if sampler:
            sampler.active(True)
        info = wl.rep(spark)
        if sampler:
            sampler.active(False)
        gates += wl.verify(spark, info)
        reps.append(info)
    return reps, gates


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=16)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--shuffle-partitions", type=int, default=8)
    args = ap.parse_args()
    # local[nproc // 2]: on a shared 4-core host, local[nproc] runs of the
    # same job spread about twice as wide (see README.md, Steadiness)
    args.cpus = max(1, len(os.sched_getaffinity(0)) // 2)

    if importlib.util.find_spec("br_doc_ocr_spark") is None:
        _bail("package br_doc_ocr_spark not found; run from the repository root")
    if importlib.util.find_spec("pyspark") is None:
        _bail("pyspark is not installed")
    for path in (checks.GOLDEN_INPUT, checks.GOLDEN_OUTPUT,
                 os.path.join("tools", "oracle_check.py")):
        if not os.path.exists(path):
            _bail(f"missing {path}; run from the repository root")
    if args.workload not in workloads.WORKLOADS:
        _bail(f"unknown workload {args.workload!r}; "
              f"known: {', '.join(workloads.WORKLOADS)}")

    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"run-{os.getpid()}")
    _environment(work)
    try:
        result = run(args, work, os.path.join(work_root, "cache"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"detail": result["detail"]}))
    print(json.dumps(result["final"]))


def run(args, work: str, cache: str) -> dict:
    gauge = host.HostGauge()
    wl = workloads.WORKLOADS[args.workload](args.seed, work, cache)
    sampler = host.RssSampler()
    spark, setup_times, golden_out = setup(args, work)
    # one attempted operation per correctness gate (checks.py)
    gates = [checks.golden(golden_out)]
    try:
        warm, warm_gates = measure(spark, wl, 0, WARMUP_REPS)
        reps, rep_gates = measure(spark, wl, args.seconds, MIN_REPS, sampler)
        gates += warm_gates + rep_gates + wl.final_checks(spark)
        if args.trace:
            import layers
            per_layer = layers.run(spark, wl, args, reps, setup_times,
                                   lambda event_log: spark_conf(work, event_log))
            spark = per_layer.pop("_spark")
            gates += per_layer.pop("_gates")
    finally:
        stop_spark(spark)
        sampler.close()

    attempted = len(gates)
    failed = sum(1 for g in gates if g)
    walls = [r["wall_s"] for r in reps]
    wall = statistics.median(walls)
    detail = {
        "workload": args.workload, "seed": args.seed, "cpus": args.cpus,
        "shuffle_partitions": args.shuffle_partitions, "trace": args.trace,
        "input": wl.meta, "turns_per_rep": wl.turns,
        "host": gauge.finish(), "rep_wall_s": [round(w, 4) for w in walls],
        "warmup_wall_s": [round(r["wall_s"], 4) for r in warm],
        "rep_peak_rss_mb": [round(p, 1) for p in sampler.peaks_mb],
        "peak_rss_mb_by_process": sampler.peak_by_name,
        "setup": {k: round(v, 4) for k, v in setup_times.items()},
        "failures": [f for g in gates for f in g][:20],
    }
    if args.trace:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in per_layer.items()}
    else:
        metrics = {
            "wall_s": {"value": wall, "unit": "s"},
            "turns_per_s": {"value": wl.turns / wall, "unit": "1/s"},
            "setup_s": {"value": setup_times["setup_s"], "unit": "s"},
            # median of the per-repetition peaks of the first MIN_REPS timed
            # repetitions: a fixed stretch of the run, whatever the number of
            # repetitions the window holds (see README.md, peak_rss_mb)
            "peak_rss_mb": {"value": statistics.median(sampler.peaks_mb[:MIN_REPS]),
                            "unit": "MB"},
            "ok_share": {"value": 1.0 - failed / attempted, "unit": "share"},
        }
    return {"detail": detail, "final": {
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": metrics}}


if __name__ == "__main__":
    main()
