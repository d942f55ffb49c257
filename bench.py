"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS] (default: the CPUs this process may run on);
prints ONE JSON line.

The north metric is extraction throughput (turns/sec) on the transcript
pipeline; the catalog queries cover the relational/ANN/dedup surface.
By default the extraction job also runs at two parallelism levels (N vs 4N
cores) on the SAME input and reports scaling efficiency — the sandbox
rendering of the north rule's N→4N executor criterion. Set
SPARK_GRAFT_BENCH_SCALING=0 to skip it (quick iteration).
"""

from __future__ import annotations

import hashlib
import json
import os
import time

from br_doc_ocr_spark.session import DEFAULT_CPUS

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# SPARK_GRAFT_CPUS, else the CPUs this process may run on
CPUS = DEFAULT_CPUS
# turns for the synthetic extraction-bench table, proportional to sf; parse
# the scale factor from a sfN.N BASENAME only (a bare substring match on the
# whole path crashed on directories like .../transforms/ that contain 'sf')
import re as _re

# anchored to a path SEGMENT starting with 'sf' and a well-formed number:
# a bare trailing match would read '/data/mydatasf2' as SF=2 and crash on
# 'sf1.2.3' (review r04)
_SF_MATCH = _re.search(r"(?:^|/)sf([0-9]+(?:\.[0-9]+)?)/*$", SF_DIR)
_SF = float(_SF_MATCH.group(1)) if _SF_MATCH else 0.1
N_TURNS = int(os.environ.get("SPARK_GRAFT_BENCH_TURNS", str(int(2_000_000 * _SF))))


def _table_dir() -> str:
    """Where the synthetic tables live: keyed by a hash of ``synth.py``'s
    source, so a table is reused only by code that generates the same one
    (a ``_SUCCESS`` marker alone said nothing about which generator wrote
    it, and two checkouts shared one table)."""
    from br_doc_ocr_spark import synth

    with open(synth.__file__, "rb") as f:
        digest = hashlib.sha256(f.read()).hexdigest()[:16]
    return f"/tmp/spark_graft_bench/synth-{digest}"


BENCH_QUERIES = [
    "pricing_summary", "join_broadcast_agg", "join_multiway",
    "window_topk_running", "window_lag_gap", "explode_digit_counts",
    "fn_currency_parse", "fn_cnpj_date_normalize", "event_time_window",
    "dedup_token_jaccard", "dedup_minhash_lsh", "dedup_simhash",
    "text_quality", "text_langid", "text_fingerprint",
    "dataset_conversation", "ann_topk", "ann_knn_join",
    "ann_cosine_topk_int8", "curate_drop_reasons", "redact_text_audit",
    "multimodal_real_codec",
]


def _kernel_single_core(n_turns: int = 20_000, reps: int = 3) -> dict:
    """Single-thread `extract_batch` rate on synthetic turns — the
    CONTROLLED kernel metric (BENCH.md 'Scaling on a shared host'): no
    Spark, no shuffle, one core, so it moves only when the kernel itself
    does, unlike the wall-clock numbers that breathe with this host's
    multi-minute CPU-grant windows. Reported in the JSON so BASELINE.md can
    cite an artifact-backed figure (VERDICT r03 #2)."""
    from br_doc_ocr_spark.core.extract import extract_batch
    from br_doc_ocr_spark.synth import make_transcripts_pandas

    df = make_transcripts_pandas(n_convs=max(n_turns // 75, 1),
                                 mean_turns=75, seed=7).head(n_turns)
    runs = []
    for _ in range(reps):
        t0 = time.perf_counter()
        out = extract_batch(df)
        runs.append(time.perf_counter() - t0)
    assert len(out) == len(df)
    best = min(runs)
    return {"turns": len(df),
            "turns_per_sec": round(len(df) / best, 1),
            "runs_sec": [round(t, 3) for t in runs]}


def _jpeg_decode_mb_s(reps: int = 3) -> dict:
    """Single-core compressed-input throughput of the dependency-free
    baseline-JPEG decoder (VERDICT r04 #5): encode one representative
    512×512 noise+gradient image per subsampling mode, decode it ``reps``
    times, report best-rep MB/s. Feeds SCALE.md's multimodal decode cost
    model from measurement instead of guesswork."""
    import numpy as np

    from br_doc_ocr_spark.ops import jpegio

    rng = np.random.default_rng(42)
    img = rng.integers(0, 256, (512, 512, 3)).astype(np.uint8)
    x = np.arange(512, dtype=np.uint8)
    img[:, :, 0] = x[None, :]
    img[:, :, 1] = x[:, None]
    out: dict = {}
    for sub in ("4:4:4", "4:2:0"):
        payload = jpegio.encode_jpeg(img, quality=85, subsampling=sub)
        jpegio.decode_jpeg(payload)   # warm the Huffman LUT cache
        best = min(_timed(lambda: jpegio.decode_jpeg(payload))
                   for _ in range(reps))
        out[sub] = round(len(payload) / 1e6 / best, 3)
    return out


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _run_extraction(spark, input_path: str, warm: bool = True,
                    reps: int = 5) -> tuple[float, int, list[float]]:
    """Best of ``reps`` warm runs (all rep times are reported alongside in
    the JSON). The first mapInPandas job in a session pays the Python-worker
    fork+import storm (~5 s across 32 workers), so one untimed warm run
    precedes. Best-of-N because this sandbox is a shared VM with visible CPU
    steal — the minimum is the closest estimate of un-stolen capacity;
    single-shot timings swing ±2×."""
    from br_doc_ocr_spark import pipeline

    def once() -> tuple[float, int]:
        t0 = time.perf_counter()
        results, _ = pipeline.run_extraction(
            pipeline.read_transcripts(spark, input_path))
        n = results.count()
        return time.perf_counter() - t0, n

    if warm:
        once()
    runs = [once() for _ in range(reps)]
    times = sorted(t for t, _ in runs)
    # best-of-N: closest estimate of un-stolen capacity on a noisy host
    return times[0], runs[0][1], [round(t, 3) for t in times]


def _prepare_transcripts(spark, path: str, n_turns: int) -> None:
    from br_doc_ocr_spark.synth import synth_to_parquet

    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        synth_to_parquet(spark, n_turns, path)


def _scaling(spark, tables: str) -> dict:
    """N vs 4N parallelism on the SAME (16× larger) input; stops ``spark``
    before the legs, which build their own sessions. Leg length is the
    steal-robustness dial: this host shows multi-minute steal bursts, and a
    5 s high leg can sit entirely inside one — r02 recorded 0.742 from
    exactly that. At 16× turns the HIGH leg runs ~20 s and the low leg
    ~80 s, so a burst inflates a leg fractionally instead of swallowing it.

    One protocol: the raw interleaved legs, best of k per leg, and
    ``efficiency_raw`` = throughput(4N) / (4 · throughput(N)). The host
    gauge spanning the legs (``perfbench/host.py``) is reported beside it,
    never used to adjust it (BENCH.md 'One scaling protocol')."""
    from br_doc_ocr_spark.session import build_session
    from perfbench.host import HostGauge

    n_scale = N_TURNS * 16
    spath = f"{tables}/transcripts_v2_{n_scale}.parquet"
    wpath = f"{tables}/transcripts_v2_{N_TURNS * 4}.parquet"
    _prepare_transcripts(spark, spath, n_scale)
    _prepare_transcripts(spark, wpath, N_TURNS * 4)  # short warm input
    spark.stop()
    # N = max(CPUS // 8, 1) and 4N: each local[N] task pairs a JVM thread
    # with a Python worker, so local[4N] runs ~8N runnable threads. When
    # CPUS is a multiple of 8, 4N is CPUS/2 and the high leg fills the host
    # without oversubscribing it (the sandbox rendering of a cluster that
    # sizes executor cores for the Python workers). Below 8 CPUS the legs
    # are local[1]/local[4]: on a 4-core host the high leg runs ~8 runnable
    # threads on 4 cores, so there it also grades oversubscription.
    low_cpus = max(CPUS // 8, 1)
    hi_cpus = low_cpus * 4
    # INTERLEAVED legs: measured efficiencies swung 0.75-1.15 when each
    # leg ran as one block, because a host-steal window can blanket one
    # leg entirely; alternating low/high sessions and taking the best
    # per level exposes both legs to the same steal weather. Each
    # session warms on the SHORT table (Python-worker fork + JIT), then
    # times the big one; the high leg takes 2 timed reps per round —
    # it is still the shorter leg and needs more samples to catch a
    # clean window.
    rounds = int(os.environ.get("SPARK_GRAFT_BENCH_SCALING_ROUNDS", "3"))
    runs_low: list[float] = []
    runs_hi: list[float] = []
    gauge = HostGauge()
    # 4 shuffle partitions per core on BOTH legs: at exactly one
    # partition per core the whole stage is a single task wave, so the
    # slowest task IS the wall-clock (no wave smoothing) — and the
    # wider leg has more tasks in that single wave, so it eats the
    # straggler penalty disproportionately (measured 0.786 with 1×,
    # 0.86 with 4× on the same input). This is the standard cluster
    # sizing rule (2-4× tasks per core), not a benchmark trick.
    for _ in range(rounds):
        s_low = build_session(app_name="bench-lowpar", cpus=low_cpus,
                              shuffle_partitions=low_cpus * 4)
        _run_extraction(s_low, wpath, warm=False, reps=1)  # warm, untimed
        t, _, _ = _run_extraction(s_low, spath, warm=False, reps=1)
        runs_low.append(round(t, 3))
        s_low.stop()
        s_hi = build_session(app_name="bench-hipar", cpus=hi_cpus,
                             shuffle_partitions=hi_cpus * 4)
        _run_extraction(s_hi, wpath, warm=False, reps=1)  # warm, untimed
        _, _, reps = _run_extraction(s_hi, spath, warm=False, reps=2)
        runs_hi.extend(reps)
        s_hi.stop()
    tp_low = n_scale / min(runs_low)
    tp_hi = n_scale / min(runs_hi)
    return {
        "cpus_low": low_cpus, "cpus_high": hi_cpus, "turns": n_scale,
        "turns_per_sec_low": round(tp_low, 1),
        "turns_per_sec_high": round(tp_hi, 1),
        "runs_low_sec": runs_low, "runs_high_sec": runs_hi,
        "efficiency_raw": round(tp_hi / (tp_low * (hi_cpus / low_cpus)), 3),
        "host_gauge": gauge.finish(),
    }


def main() -> None:
    from br_doc_ocr_spark.queries import REGISTRY
    from br_doc_ocr_spark.session import build_session

    tables = _table_dir()
    tpath = f"{tables}/transcripts_v2_{N_TURNS}.parquet"
    timings: dict[str, float] = {}
    extra: dict[str, object] = {}

    spark = build_session(app_name="bench", cpus=CPUS)
    _prepare_transcripts(spark, tpath, N_TURNS)

    # warm the JVM/Python workers once so timings measure the plan, not init
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()

    extra["kernel_single_core"] = _kernel_single_core()
    extra["jpeg_decode_mb_s"] = _jpeg_decode_mb_s()

    elapsed, n_turns, runs = _run_extraction(spark, tpath)
    timings["extract_pipeline"] = round(elapsed, 3)
    extra["extract_turns"] = n_turns
    extra["extract_turns_per_sec"] = round(n_turns / elapsed, 1)
    extra["extract_runs_sec"] = runs
    # per-session spread, not just the best: this host's CPU grant varies in
    # multi-minute windows, so the range IS the honest reading
    extra["extract_turns_per_sec_range"] = [
        round(n_turns / max(runs), 1), round(n_turns / min(runs), 1)]

    for name in (BENCH_QUERIES if os.environ.get(
            "SPARK_GRAFT_BENCH_CATALOG", "1") != "0" else []):
        qd = REGISTRY[name]
        # adaptive best-of-N: this host shows bursty CPU steal (single-shot
        # catalog timings measured swinging 0.6s ↔ 13s for the same query,
        # and one full bench recorded dedup_minhash_lsh at 21 s where the
        # steady state is 2.3 s — a multi-minute burst blanketed both of a
        # best-of-2's reps). Run 2 reps; while the two best disagree by
        # >25% keep sampling up to 5 — a converged pair costs nothing extra,
        # a burst gets out-waited instead of recorded.
        runs = []
        while len(runs) < 5:
            t0 = time.perf_counter()
            df = qd.fn(spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
            if len(runs) >= 2:
                b = sorted(runs)
                if b[1] <= b[0] * 1.25:  # two reps agree → converged
                    break
        timings[name] = round(min(runs), 3)

    if os.environ.get("SPARK_GRAFT_BENCH_DEDUP", "1") != "0":
        # End-to-end near-dup pipeline at scale under cluster skew
        # (VERDICT r02 #3): MinHash/LSH candidates → exact-Jaccard verify →
        # connected components → anti-join, over a corpus whose hottest
        # cluster is ~400× the median (the LSH band bucket for it goes
        # quadratic — AQE skew-join splits carry it). ``expected_kept`` is
        # the ground-truth distinct-cluster count: kept == expected iff
        # LSH recall found every cluster pair and nothing false-merged.
        from br_doc_ocr_spark.ops import dedup
        from br_doc_ocr_spark.synth import make_skewed_documents

        # default 2M docs at sf0.1 (~150×-median hot cluster, ~2-3 min);
        # the 5M-doc measurement (≈400× median, 445 s, perfect recall,
        # 2 CC iterations) is recorded in BENCH.md — too slow to re-run
        # per bench invocation
        n_docs = int(os.environ.get("SPARK_GRAFT_BENCH_DEDUP_DOCS",
                                    str(int(20_000_000 * _SF))))
        dpath = f"{tables}/skewed_docs_{n_docs}.parquet"
        if not os.path.exists(os.path.join(dpath, "_SUCCESS")):
            make_skewed_documents(spark, n_docs).write.mode(
                "overwrite").parquet(dpath)
        expected_kept = (spark.read.parquet(dpath)
                         .select("cluster").distinct().count())
        docs = spark.read.parquet(dpath).select("doc_id", "text")
        t0 = time.perf_counter()
        pairs = dedup.minhash_near_duplicates(docs, threshold=0.5)
        pairs.persist()
        n_pairs = pairs.count()
        t_pairs = time.perf_counter() - t0
        cc_stats: dict = {}
        kept = dedup.drop_near_duplicates(docs, pairs, stats=cc_stats).count()
        elapsed = time.perf_counter() - t0
        pairs.unpersist()
        extra["dedup_pipeline"] = {
            "docs": n_docs, "pairs": n_pairs, "kept": kept,
            "expected_kept": expected_kept,
            "cc_iterations": cc_stats.get("iterations"),
            "pairs_sec": round(t_pairs, 3), "total_sec": round(elapsed, 3),
        }

    if os.environ.get("SPARK_GRAFT_BENCH_SCALING", "1") != "0":
        extra["scaling"] = _scaling(spark, tables)
    else:
        spark.stop()

    total = round(sum(timings.values()), 3)
    full = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": _SF,
        **extra,
    }
    # Full detail (per-run arrays, dedup pipeline, scaling legs) goes to
    # bench_runs/; the FINAL stdout line stays COMPACT.
    # The driver captures only the last ~2 KB of stdout and json-parses the
    # final line — round 4's line outgrew that window and shipped
    # `parsed: null` (VERDICT r04 #1), so the contract here is: last line
    # < ~1.5 KB, everything else in the detail file.
    os.makedirs("bench_runs", exist_ok=True)
    tag = os.environ.get("SPARK_GRAFT_BENCH_TAG",
                         time.strftime("%Y-%m-%d_%H%M%S"))
    detail_path = os.path.join("bench_runs", f"{tag}.json")
    with open(detail_path, "w") as f:
        json.dump(full, f, indent=1)
    compact: dict[str, object] = {
        "metric": full["metric"],
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": _SF,
        "detail_file": detail_path,
    }
    ksc = extra.get("kernel_single_core")
    if isinstance(ksc, dict):
        compact["kernel_single_core_turns_per_sec"] = ksc["turns_per_sec"]
    if "extract_turns_per_sec" in extra:
        compact["extract_turns_per_sec"] = extra["extract_turns_per_sec"]
    if "jpeg_decode_mb_s" in extra:
        compact["jpeg_decode_mb_s"] = extra["jpeg_decode_mb_s"]
    sc = extra.get("scaling")
    if isinstance(sc, dict):
        compact["scaling"] = {
            "cpus_low": sc["cpus_low"], "cpus_high": sc["cpus_high"],
            "turns_per_sec_low": sc["turns_per_sec_low"],
            "turns_per_sec_high": sc["turns_per_sec_high"],
            "efficiency_raw": sc["efficiency_raw"],
            "host_gauge": sc["host_gauge"],
        }
    line = json.dumps(compact)
    if len(line) > 1536:  # belt-and-braces: never outgrow the tail window
        compact.pop("queries", None)
        compact["queries_in_detail_file"] = True
        line = json.dumps(compact)
    print(line)


if __name__ == "__main__":
    import sys

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    main()
