"""Physical-plan quality gates: these assert the *plan shape* the 100 TB
design depends on — filter/projection pushdown to the parquet scan, broadcast
joins for small dims, exactly one Arrow crossing in the extraction stage, and
partial top-k instead of a global sort."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as sf

from br_doc_ocr_spark import pipeline
from br_doc_ocr_spark.queries import REGISTRY
from tests.conftest import SF_DIR


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def test_projection_and_filter_pushed_to_scan(spark):
    df = REGISTRY["projection_pushdown"].fn(spark, SF_DIR)
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThanOrEqual(l_quantity,45" in plan
    # only the two projected columns are read from parquet
    assert "ReadSchema" in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema


RANGE_EXCHANGE = (r"rangepartitioning\(conv_id#\d+ ASC NULLS FIRST, "
                  r"turn_idx#\d+ ASC NULLS FIRST, (\d+)\)")


def test_extraction_has_single_arrow_crossing_and_shuffle(spark,
                                                          tiny_transcripts_path):
    """Every extraction plan holds exactly one Arrow crossing and exactly
    one Exchange in front of it, and that Exchange is the range exchange on
    (conv_id, turn_idx) — the one shuffle that both splits hot
    conversations and orders the output. No hash exchange anywhere."""
    import re

    from br_doc_ocr_spark.core.extract import DEFAULT_REDACT_FIELDS

    df = pipeline.read_transcripts(spark, tiny_transcripts_path)
    plans = {
        "run_extraction": plan_of(pipeline.run_extraction(df)[0]),
        # redaction rides the SAME single crossing — no extra stage, no
        # extra shuffle, just one more output column from the kernel
        "redacting": plan_of(pipeline.run_extraction(
            df, redact_fields=DEFAULT_REDACT_FIELDS)[0]),
        "run_multi_extraction": plan_of(pipeline.run_multi_extraction(df)[0]),
    }
    for name, plan in plans.items():
        assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 1, name
        assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, name
        assert len(re.findall(RANGE_EXCHANGE, plan)) == 1, name
        assert "hashpartitioning" not in plan, name
    assert "redacted_text" in plans["redacting"]


def test_map_kernel_is_the_only_map_in_pandas_call():
    """Every Python crossing in the package goes through
    ``pipeline.map_kernel`` (its tally, its kept zip directories): an
    ``ast`` scan finds exactly one ``.mapInPandas(`` call, inside it."""
    import ast
    from pathlib import Path

    package = Path(pipeline.__file__).parent
    found = []
    for path in sorted(package.rglob("*.py")):
        tree = ast.parse(path.read_text())
        defs = [n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)]
        for node in ast.walk(tree):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "mapInPandas"):
                owner = max((d for d in defs
                             if d.lineno <= node.lineno <= d.end_lineno),
                            key=lambda d: d.lineno, default=None)
                found.append((path.relative_to(package).as_posix(),
                              owner and owner.name))
    assert found == [("pipeline.py", "map_kernel")]


# Options that only tests set: each needs its own decision (several let a
# test reach a decoder or an error path). The list may only shrink.
TEST_ONLY_OPTIONS = [
    ("cli.py", "main", "argv"),
    ("core/fields.py", "flag_low_confidence", "threshold"),
    ("dataset.py", "read_metrics_history", "run_id"),
    ("dataset.py", "with_padded_ids", "group_col"),
    ("evaluation.py", "generate_evaluation_report", "output_path"),
    ("ops/aviio.py", "encode_avi", "quality"),
    ("ops/dedup.py", "connected_components", "max_iterations"),
    ("ops/dedup.py", "ngram_jaccard_pairs", "threshold"),
    *(("ops/dedup.py", "simhash_signatures", p)
      for p in ("id_col", "out_col", "salt_buckets", "text_col")),
    ("ops/jpegio.py", "encode_jpeg", "restart_interval"),
    *(("ops/multimodal.py", f, "on_error")
      for f in ("audio_feature_kernel", "audio_features",
                "image_feature_kernel", "image_features",
                "sample_video_frames", "video_frame_sample_kernel")),
    *(("ops/similarity.py", f, p)
      for f in ("ivf_topk_indexed", "ivf_topk_indexed_int8")
      for p in ("k", "n_bits", "probe_hamming")),
    ("ops/similarity.py", "write_ivf_index", "files_per_cell"),
    ("ops/similarity.py", "write_ivf_index", "n_bits"),
    ("ops/similarity.py", "write_ivf_index_int8", "n_bits"),
    ("ops/temporal.py", "range_join", "bucket_seconds"),
    ("ops/textstats.py", "repetition_stats", "ngram_n"),
    *(("ops/textstats.py", "top_ngram_share", p)
      for p in ("id_col", "ngram_n", "text_col")),
    ("streaming.py", "deduplicated_stream", "watermark"),
    ("streaming.py", "extract_stream", "redact_fields"),
    ("streaming.py", "status_counts", "watermark"),
    ("streaming.py", "status_counts", "window"),
    ("streaming.py", "stream_extract", "available_now"),
    ("streaming.py", "stream_extract_deduplicated", "watermark"),
    ("streaming.py", "stream_extract_with_lineage", "available_now"),
    ("streaming.py", "stream_extract_with_lineage", "max_files_per_trigger"),
    *(("streaming.py", "stream_media_features", p)
      for p in ("kind", "max_files_per_trigger", "on_error")),
]


def test_every_option_has_a_caller():
    """A public option exists only when a non-test caller sets it: an
    ``ast`` scan finds, for every default-valued parameter of the package's
    public top-level functions, a call that passes it by keyword or by
    position (``functools.partial(f, ...)`` counts as a call of ``f``). The
    callers are the package, ``perfbench/``, ``tools/``, ``bench.py`` and
    ``__spark_entry__.py``. A pass-through — ``f(x=x)`` or ``f(..., x)``
    inside a function whose own ``x`` is an option — sets ``f``'s ``x`` only
    once that ``x`` is set. The options in ``TEST_ONLY_OPTIONS`` are set by
    tests alone; no other may be, and each of them must still be."""
    import ast
    from pathlib import Path

    package = Path(pipeline.__file__).parent
    repo = package.parent
    options = {}  # (function, parameter) -> (module, position or None)
    for path in sorted(package.rglob("*.py")):
        module = path.relative_to(package).as_posix()
        for node in ast.parse(path.read_text()).body:
            if (not isinstance(node, ast.FunctionDef)
                    or node.name.startswith("_")):
                continue
            args = node.args.posonlyargs + node.args.args
            first = len(args) - len(node.args.defaults)
            options.update(((node.name, a.arg), (module, i))
                           for i, a in enumerate(args) if i >= first)
            options.update(((node.name, a.arg), (module, None))
                           for a, d in zip(node.args.kwonlyargs,
                                           node.args.kw_defaults)
                           if d is not None)

    def name(func):
        return getattr(func, "id", None) or getattr(func, "attr", None)

    def calls(node, scope):
        """Every call under ``node``, with the parameters in reach of it
        (name -> the function that binds it)."""
        if isinstance(node, ast.FunctionDef):
            a = node.args
            scope = {**scope, **{p.arg: node.name for p in
                                 a.posonlyargs + a.args + a.kwonlyargs}}
        if isinstance(node, ast.Call):
            yield node, scope
        for child in ast.iter_child_nodes(node):
            yield from calls(child, scope)

    callers = [*package.rglob("*.py"), *(repo / "perfbench").rglob("*.py"),
               *(repo / "tools").rglob("*.py"), repo / "bench.py",
               repo / "__spark_entry__.py"]
    tests = list((repo / "tests").rglob("*.py"))
    sets = []  # (option, set from tests, option it passes through or None)
    for path in callers + tests:
        for call, scope in calls(ast.parse(path.read_text()), {}):
            func, args = name(call.func), call.args
            if func == "partial" and args:
                func, args = name(args[0]), args[1:]
            given = [(k.arg, k.value) for k in call.keywords]
            given += [(p, args[i]) for (f, p), (_, i) in options.items()
                      if f == func and i is not None and i < len(args)]
            for param, value in given:
                source = (isinstance(value, ast.Name) and value.id in scope
                          and (scope[value.id], value.id))
                sets.append(((func, param), path in tests,
                             source if source in options else None))

    def settled(with_tests):
        done = set()
        while True:
            more = {opt for opt, from_test, source in sets
                    if (with_tests or not from_test)
                    and (source is None or source in done)} - done
            if not more:
                return done
            done |= more

    set_strictly, set_at_all = settled(False), settled(True)
    unset = sorted((module, *opt) for opt, (module, _) in options.items()
                   if opt not in set_strictly)
    assert unset == sorted(TEST_ONLY_OPTIONS)
    assert [o for o in unset if o[1:] not in set_at_all] == []


def test_extraction_partitions_are_task_slots_for_small_input_else_conf(
        spark, tiny_transcripts_path):
    """The range Exchange gets min(shuffle.partitions, task slots)
    partitions when the input is at most openCostInBytes per slot, and
    shuffle.partitions otherwise."""
    import re

    def exchange_partitions() -> int:
        df = pipeline.read_transcripts(spark, tiny_transcripts_path)
        results, _ = pipeline.run_extraction(df)
        counts = re.findall(RANGE_EXCHANGE, plan_of(results))
        assert counts and len(set(counts)) == 1, counts
        return int(counts[0])

    df = pipeline.read_transcripts(spark, tiny_transcripts_path)
    size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    per_slot = -(-size // 4)  # smallest open cost with size <= 4 slots × it
    assert spark.sparkContext.defaultParallelism == 4
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    assert exchange_partitions() == 4                       # small: one wave
    for key, value, expect in (
            ("spark.sql.shuffle.partitions", "2", 2),       # conf below slots
            ("spark.sql.files.openCostInBytes", str(per_slot), 4),
            ("spark.sql.files.openCostInBytes", str(per_slot - 1), 8)):
        old = spark.conf.get(key)
        spark.conf.set(key, value)
        try:
            assert exchange_partitions() == expect, (key, value)
        finally:
            spark.conf.set(key, old)


def test_range_exchange_balances_hot_conversation(spark, tiny_transcripts,
                                                  tiny_transcripts_path):
    """Skew lock: conv-heavy holds well over half of the fixture's turns,
    yet no kernel task gets more than 1.1× the mean rows (lineage
    row_count per partition). A hash exchange keyed on conv_id alone would
    put the whole conversation in one task."""
    heavy = (tiny_transcripts["conv_id"] == "conv-heavy").sum()
    assert heavy > len(tiny_transcripts) / 2  # premise: one hot key
    results, lineage = pipeline.run_extraction(
        pipeline.read_transcripts(spark, tiny_transcripts_path))
    results.write.format("noop").mode("overwrite").save()
    rows = lineage().toPandas()["row_count"]
    assert rows.sum() == len(tiny_transcripts)
    assert len(rows) == 4  # one wave of task slots
    assert rows.max() / rows.mean() <= 1.1, sorted(rows)


def test_small_dims_are_broadcast(spark):
    import re

    plan = plan_of(REGISTRY["join_multiway"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    # the fact lineitem⋈orders join may be shuffle-based; the three dims must
    # not introduce more than one shuffle join. Count OPERATORS via the
    # formatted-explain tree markers "(n) <Op>" — a bare substring count sees
    # each operator twice (tree node + details header).
    n_shuffle_joins = len(re.findall(r"\(\d+\) (?:SortMergeJoin|ShuffledHashJoin)",
                                     plan))
    assert n_shuffle_joins <= 1


def test_topk_uses_partial_take_ordered(spark):
    # merged ann_topk unions the brute + ivf branches; each must still be a
    # partial top-k — and so must the quantized int8 path
    plan = plan_of(REGISTRY["ann_topk"].fn(spark, SF_DIR))
    assert plan.count("TakeOrderedAndProject") >= 2  # no global Sort for limit-k
    plan8 = plan_of(REGISTRY["ann_cosine_topk_int8"].fn(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan8


def test_whole_stage_codegen_covers_relational_queries(spark):
    # AQE prints codegen spans only in the FINAL plan → execute first
    for name in ("pricing_summary", "join_broadcast_agg", "fn_currency_parse"):
        df = REGISTRY[name].fn(spark, SF_DIR)
        df.collect()
        plan = plan_of(df)
        assert "== Final Plan ==" in plan, name
        # '*' node prefix / codegen ids mark WholeStageCodegen spans
        assert "[codegen id :" in plan or "* HashAggregate" in plan, name


def test_aqe_and_arrow_enabled(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    assert spark.conf.get("spark.sql.execution.arrow.pyspark.enabled") == "true"


def test_hash_aggregate_with_partial_pass(spark):
    plan = plan_of(REGISTRY["pricing_summary"].fn(spark, SF_DIR))
    # map-side partial + final hash aggregate (two HashAggregate operators)
    assert plan.count("HashAggregate") >= 2


def test_bucket_partitioned_output_prunes(spark, tiny_transcripts_path, tmp_path):
    """The checkpoint layout (dir-partitioned by bucket) must let Catalyst
    prune untouched buckets at read time — the Iceberg-partition-spec analog."""
    from br_doc_ocr_spark import checkpoint

    out = str(tmp_path / "out")
    checkpoint.run_resumable(spark, tiny_transcripts_path, out,
                             str(tmp_path / "m.json"), n_buckets=4)
    df = spark.read.parquet(out).filter(sf.col("bucket") == 2)
    plan = plan_of(df)
    part_line = [l for l in plan.splitlines() if "PartitionFilters" in l][0]
    assert "bucket" in part_line and "= 2" in part_line.replace("=2", "= 2")
    # and the pruned read returns only that bucket
    assert df.select("bucket").distinct().collect()[0][0] == 2


def test_minhash_signatures_use_codegen_partial_agg(spark):
    """The LSH signature path must be the explode + codegen'd 32-seed
    projection + two-phase groupBy-min (map-side partial agg), NOT the
    interpreted higher-order transform/array_min formulation — the latter
    profiled ~10x slower (interpreted expression path, ~1 µs/element)."""
    from br_doc_ocr_spark.ops import dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    sig = dedup.minhash_signatures(docs)
    plan = plan_of(sig)
    # partial + final min aggregation (two HashAggregate operators)
    assert plan.count("HashAggregate") >= 2
    assert "partial_min" in plan
    # the 32 seed hashes sit in a single projection below the aggregate:
    # no array_min anywhere in the signature plan (that's the interpreted path)
    assert "array_min" not in plan


def test_ivf_indexed_probe_prunes_partitions(spark, tmp_path):
    """An ivf_topk_indexed probe must prune at file-listing time: the bucket
    filter has to appear in the scan's PartitionFilters (NOT as a post-scan
    Filter over a full read) — at 100 TB this is a ~3.5% read vs a full scan
    per query."""
    from br_doc_ocr_spark.ops import similarity

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    path = str(tmp_path / "ivf")
    similarity.write_ivf_index(emb, path, n_bits=4)
    qv = [float(v) for v in emb.select("embedding").first()[0]]
    probe = similarity.ivf_topk_indexed(spark, path, qv, k=10, n_bits=4,
                                        probe_hamming=1)
    plan = plan_of(probe)
    part_line = [l for l in plan.splitlines() if "PartitionFilters" in l][0]
    assert "bucket" in part_line and "IN" in part_line.upper()
    # pruned read touches exactly the 5 probed cells (home + 4 Hamming-1)
    cells = similarity.probe_buckets(qv, n_bits=4, probe_hamming=1)
    assert len(cells) == 5


def test_ivf_hot_cell_skew_splits_and_prunes(spark, tmp_path):
    """Dynamic hot-cell handling under REAL skew (VERDICT r02 #6): with 90%
    of the corpus in ONE quantizer cell, files_per_cell must land that cell
    as multiple parquet files (write + probe-side split parallelism), the
    probe must still prune at file-listing time (PartitionFilters), and the
    pruned probe must return exactly the brute-force top-k of the probed
    cells."""
    import glob

    from br_doc_ocr_spark.ops import similarity

    n = 2000
    jit = (sf.col("vec_id") % 7).cast("double") * 0.01
    hot = sf.array(*[sf.lit(0.5) + jit for _ in range(4)])
    cold = sf.array(sf.lit(-0.5) - jit, sf.lit(0.5), sf.lit(-0.5), sf.lit(0.5))
    emb = (spark.range(n).select(sf.col("id").alias("vec_id"))
           .select("vec_id",
                   sf.when(sf.col("vec_id") % 10 < 9, hot).otherwise(cold)
                   .alias("embedding")))
    path = str(tmp_path / "ivf_skew")
    similarity.write_ivf_index(emb, path, n_bits=4, files_per_cell=4)
    # the hot cell (all-positive signs → bucket 15) holds 90% of rows and
    # must be split across several files
    hot_files = glob.glob(path + "/bucket=15/*.parquet")
    assert len(hot_files) >= 2, hot_files
    qv = [0.5, 0.5, 0.5, 0.5]
    probe = similarity.ivf_topk_indexed(spark, path, qv, k=5, n_bits=4,
                                        probe_hamming=1)
    plan = plan_of(probe)
    part_line = [l for l in plan.splitlines() if "PartitionFilters" in l][0]
    assert "bucket" in part_line and "IN" in part_line.upper()
    cells = similarity.probe_buckets(qv, n_bits=4, probe_hamming=1)
    brute = similarity.cosine_topk(
        emb.filter(similarity.ivf_bucket(
            sf.col("embedding"), 4).isin(cells)), qv, k=5)
    assert [(r["vec_id"], r["cosine"]) for r in probe.collect()] == \
        [(r["vec_id"], r["cosine"]) for r in brute.collect()]


def test_knn_join_has_partial_window_group_limit(spark):
    """knn_join's per-query top-k must be two-phase: a map-side Partial
    WindowGroupLimit BEFORE the exchange (each scan partition cut to ≤ k rows
    per query pre-shuffle) — without it, one task ranks the entire scored
    corpus for a query (the r01 scale anti-pattern). The rank filter sits
    directly over row_number so Catalyst's InferWindowGroupLimit fires; this
    test locks that plan shape against refactors that break the rule."""
    from br_doc_ocr_spark.ops import similarity

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.limit(3).select(sf.col("vec_id").alias("q_id"), "embedding")
    out = similarity.knn_join(queries, emb, k=5)
    plan = plan_of(out)
    # the two WindowGroupLimit phases render as "row_number(), 5, Partial"
    # (map-side, pre-exchange) and "row_number(), 5, Final"
    assert "row_number(), 5, Partial" in plan, plan
    assert "row_number(), 5, Final" in plan, plan


def test_dataset_transform_is_shuffle_free(spark):
    """to_training_samples must stay a pure projection — no Exchange, no
    Python crossing — so the conversation transform runs at scan speed
    over any corpus size."""
    import re

    plan = plan_of(REGISTRY["dataset_conversation"].fn(spark, SF_DIR))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 0, plan
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan


def _events(spark):
    return spark.read.parquet(f"{SF_DIR}/events.parquet")


def test_asof_join_is_single_shuffle_no_nested_loop(spark):
    """asof_join's scale claim: ONE exchange keyed by the join key, never a
    BroadcastNestedLoopJoin/CartesianProduct (the non-equi-join blowup it
    exists to avoid). (Built directly — the merged temporal_joins catalog
    entry adds a cohort-alignment join on top, so plan-gate the operator,
    not the catalog wrapper.)"""
    import re

    from br_doc_ocr_spark.ops import temporal

    ev = _events(spark)
    left = ev.filter(sf.col("event_type") == "purchase").select("user_id", "ts")
    right = (ev.filter(sf.col("event_type") == "click")
             .groupBy("user_id", "ts").agg(sf.max("value").alias("click_value")))
    plan = plan_of(temporal.asof_join(left, right, value_cols=["click_value"]))
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    # exchanges: the union's user_id partitioning + the final agg; the join
    # itself must not add a per-row comparison join operator
    assert len(re.findall(r"\(\d+\) (?:SortMergeJoin|ShuffledHashJoin|"
                          r"BroadcastHashJoin)", plan)) == 0


def test_range_join_is_equi_join_not_nested_loop(spark):
    """range_join must execute as a hash/merge EQUI-join on (key, bucket)
    with the range residual as a join filter — not the BNLJ a plain
    inequality join degrades to."""
    from br_doc_ocr_spark.ops import temporal

    ev = _events(spark)
    points = (ev.filter(sf.col("event_type") == "click")
              .select("user_id", "ts", "value"))
    intervals = (ev.filter(sf.col("event_type") == "signup")
                 .select("user_id", sf.col("ts").alias("start"),
                         (sf.col("ts") + sf.expr("INTERVAL 2 HOURS"))
                         .alias("end")))
    plan = plan_of(temporal.range_join(points, intervals))
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            or "BroadcastHashJoin" in plan)


def test_master_detection_is_launch_shaped(monkeypatch):
    """build_session forces local[N] only when the environment does NOT
    carry a spark-submit master. Detection must key on HOW the JVM was
    launched (PYSPARK_GATEWAY_PORT / PYSPARK_SUBMIT_ARGS), NOT on live
    spark.master properties: plain `python` launches its JVM through
    spark-submit internally, so after the first session the master lands
    in system properties and a property probe pinned every later
    build_session(cpus=k) to the FIRST session's core count — caught live
    when it ran bench.py's 4-core scaling leg on local[32] (review r05)."""
    from br_doc_ocr_spark.session import _master_is_configured

    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    monkeypatch.delenv("PYSPARK_SUBMIT_ARGS", raising=False)
    # the conftest session is live in this process, so a property-based
    # probe WOULD return True here — launch-shape detection must not
    assert not _master_is_configured()
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "12345")
    assert _master_is_configured()
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT")
    monkeypatch.setenv("PYSPARK_SUBMIT_ARGS", "--master yarn pyspark-shell")
    assert _master_is_configured()


def test_heap_scales_with_task_concurrency(spark, monkeypatch):
    """build_session sizes the JVM heap to task slots (~0.75 GiB/core, 8 GiB
    floor) — the 20M-turn ordered write OOMs a fixed 8g heap at local[32]
    (32 concurrent parquet writers × ~128 MiB row-group buffers)."""
    import os

    from br_doc_ocr_spark.session import driver_memory_for

    # the active 4-cpu test session sits at the floor
    if "SPARK_GRAFT_DRIVER_MEM" not in os.environ:
        assert spark.conf.get("spark.driver.memory") == "8g"
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert driver_memory_for(4) == "8g"    # floor
    assert driver_memory_for(32) == "24g"  # scales with cores
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "64g")
    assert driver_memory_for(32) == "64g"  # env override wins
    # cached-batch rows bounded: the DISK_ONLY kernel-output cache holds
    # KB-scale text columns, and the 10 000-row default made build/decompress
    # spikes that OOMed the 24 g heap at 20M rows (session.py rationale)
    assert spark.conf.get(
        "spark.sql.inMemoryColumnarStorage.batchSize") == "1000"


def test_ivf_int8_probe_prunes_partitions_and_columns(spark, tmp_path):
    """The quantized IVF probe (VERDICT r03 #6) composes BOTH savings:
    bucket partition pruning at file-listing time AND codes-only column
    pruning — q_scale is stored in the index but the code-space-cosine
    probe must not read it (ReadSchema is the scan's byte bill at 100 TB)."""
    from br_doc_ocr_spark.ops import similarity

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    path = str(tmp_path / "ivf8")
    similarity.write_ivf_index_int8(emb, path, n_bits=4)
    qv = [float(v) for v in emb.select("embedding").first()[0]]
    probe = similarity.ivf_topk_indexed_int8(spark, path, qv, k=10, n_bits=4,
                                             probe_hamming=1)
    plan = plan_of(probe)
    part_line = [l for l in plan.splitlines() if "PartitionFilters" in l][0]
    assert "bucket" in part_line and "IN" in part_line.upper()
    read_line = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "q_codes" in read_line
    assert "q_scale" not in read_line   # scales cancel — never read
    assert "TakeOrderedAndProject" in plan
