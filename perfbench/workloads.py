"""The workloads, driven through the package's public API only.

Each extraction workload prepares its inputs, runs one repetition (``rep``)
whose wall time is the measured quantity, verifies what that repetition
wrote (``verify``, untimed), and runs its once-per-run checks
(``final_checks``). Checks return one entry per correctness gate: the
gate's failure messages, empty when it passed. Every repetition writes to
fresh paths. The catalog queries are timed only by the traced run
(``layers.catalog``).
"""

from __future__ import annotations

import os
import random
import shutil
import time

import inputs
import checks

# Input sizes, fixed per workload: the seed varies content, never size.
DOC_TURNS = 16_000
CHAT_TURNS = 24_000
CATALOG_DOCS = 3_000          # events table: 20 rows per document
N_BUCKETS = 12
BUCKETS_PER_SNAPSHOT = 6
ORACLE_SAMPLE_CONVS = 40
GC_SETTLE_S = 0.5
# Spark local property naming the run_resumable invocation a job belongs to,
# so the traced run can split the event log by invocation
INVOCATION = "perfbench.invocation"
# catalog queries whose code lives in ops/; all have DuckDB oracles
# (dedup_minhash_lsh is left out: its bit-exact DuckDB oracle takes
# minutes at this size)
CATALOG_QUERIES = ("sessionize_events", "multimodal_real_codec",
                   "dedup_components", "text_langid")


def collect_heap(spark) -> None:
    """Collect the JVM heap before a repetition, untimed. G1 otherwise keeps
    whatever it grew to in earlier repetitions, and the peak resident memory
    of the process tree varied ~25% between runs. G1 returns the freed
    memory to the OS on a background thread, so wait a moment for it."""
    spark.sparkContext._jvm.java.lang.System.gc()
    time.sleep(GC_SETTLE_S)


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


class Workload:
    name = ""
    size = 0

    def __init__(self, seed: int, work: str, cache: str) -> None:
        self.seed = seed
        self.work = work
        self.cache = cache
        self.input_dir, self.meta = inputs.cached(cache, self.name, seed, self.size)
        self.rng = random.Random(seed)


class _Extraction(Workload):
    """Shared by the two transcript workloads."""

    def __init__(self, *args) -> None:
        super().__init__(*args)
        self.reps = 0

    @property
    def input_path(self) -> str:
        return os.path.join(self.input_dir, "transcripts.parquet")

    @property
    def turns(self) -> int:
        return self.meta["turns"]

    def transcripts(self):
        import pandas as pd
        return pd.read_parquet(self.input_path)

    def final_checks(self, spark) -> list[list[str]]:
        """The last repetition's output, per turn, against the oracle on a
        seeded sample of whole conversations."""
        df = self.transcripts()
        convs = sorted(set(df["conv_id"]))
        sample = self.rng.sample(convs, min(ORACLE_SAMPLE_CONVS, len(convs)))
        return [checks.oracle_sample(spark, self.last["out"], df, sample)]


class DocExtract(_Extraction):
    """run_pipeline: salted extraction, ordered write plus lineage."""
    name = "doc_extract"
    size = DOC_TURNS

    def rep(self, spark) -> dict:
        from br_doc_ocr_spark import pipeline

        self.reps += 1
        out = _fresh(os.path.join(self.work, "doc_out"))
        lin = _fresh(os.path.join(self.work, "doc_lineage"))
        t0 = time.perf_counter()
        pipeline.run_pipeline(spark, self.input_path, output_path=out,
                              lineage_path=lin, run_id=f"rep-{self.reps}")
        return {"wall_s": time.perf_counter() - t0, "out": out, "lineage": lin}

    def verify(self, spark, info: dict) -> list[list[str]]:
        lin_fails, counts = checks.lineage(spark, info["lineage"], self.turns)
        self.last = info
        return [checks.output_rows(spark, info["out"], self.turns), lin_fails,
                checks.no_error_turns(counts)]


class HotkeyResume(_Extraction):
    """run_resumable from a fresh manifest until no bucket is pending."""
    name = "hotkey_resume"
    size = CHAT_TURNS

    def rep(self, spark) -> dict:
        from br_doc_ocr_spark import checkpoint

        self.reps += 1
        base = _fresh(os.path.join(self.work, "hk_rep"))
        os.makedirs(base)
        paths = {k: os.path.join(base, k) for k in ("out", "lineage")}
        paths["manifest"] = os.path.join(base, "manifest.json")
        invocations = []
        t0 = time.perf_counter()
        for i in range(2 * N_BUCKETS // BUCKETS_PER_SNAPSHOT):
            spark.sparkContext.setLocalProperty(INVOCATION, str(i))
            ti = time.perf_counter()
            r = checkpoint.run_resumable(
                spark, self.input_path, paths["out"], paths["manifest"],
                lineage_path=paths["lineage"], n_buckets=N_BUCKETS,
                run_id=f"rep-{self.reps}",
                max_buckets_per_snapshot=BUCKETS_PER_SNAPSHOT)
            invocations.append(time.perf_counter() - ti)
            if not r["pending_after"]:
                break
        spark.sparkContext.setLocalProperty(INVOCATION, None)
        return {"wall_s": time.perf_counter() - t0, "invocations": invocations,
                **paths}

    def verify(self, spark, info: dict) -> list[list[str]]:
        n_inv = len(info["invocations"])
        lin_fails, counts = checks.lineage(spark, info["lineage"], self.turns)
        if counts["snapshots"] != n_inv:
            lin_fails.append(f"lineage has {counts['snapshots']} snapshots for "
                             f"{n_inv} invocations")
        self.last = info
        return [checks.output_rows(spark, info["out"], self.turns),
                checks.manifest(info["manifest"], N_BUCKETS, n_inv), lin_fails,
                checks.no_error_turns(counts)]


class CatalogOps(Workload):
    """A fixed list of ops/-backed catalog queries into a noop sink, on
    tables generated from the seed. Not an end-to-end workload: the traced
    run of doc_extract times it per query (see layers.catalog)."""
    name = "catalog_ops"
    size = CATALOG_DOCS

    def __init__(self, *args) -> None:
        super().__init__(*args)
        self.order = list(CATALOG_QUERIES)

    def time_queries(self, spark) -> dict[str, float]:
        """Seconds of each query in ``order``, written to a noop sink."""
        from br_doc_ocr_spark.queries import REGISTRY

        per_query = {}
        for name in self.order:
            tq = time.perf_counter()
            (REGISTRY[name].fn(spark, self.input_dir)
             .write.format("noop").mode("overwrite").save())
            per_query[name] = time.perf_counter() - tq
        return per_query

    def oracle_checks(self, spark) -> list[list[str]]:
        """Each query once, collected and compared with its DuckDB oracle,
        one gate per query. A query that raises is a failure and
        is dropped from ``order``, so only the others are timed."""
        import duckdb

        from br_doc_ocr_spark.queries import REGISTRY

        con = duckdb.connect()
        for table in ("documents", "events"):
            path = os.path.join(self.input_dir, f"{table}.parquet")
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{path}'")
        gates, raised = [], []
        for name in self.order:
            qd = REGISTRY[name]
            try:
                got = qd.fn(spark, self.input_dir).toPandas()
            except Exception as e:  # noqa: BLE001  (counted, not fatal)
                gates.append([f"{name}: raised {type(e).__name__}: {e}"[:300]])
                raised.append(name)
                continue
            gates.append([f"{name}: {f}" for f in
                          checks.oracle_query(got, con.execute(qd.sql).fetchdf())])
        con.close()
        self.order = [q for q in self.order if q not in raised]
        return gates


WORKLOADS = {w.name: w for w in (DocExtract, HotkeyResume)}
