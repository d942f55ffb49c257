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
    ``ast`` scan finds exactly one call of any Python-crossing API —
    ``mapInPandas``, ``mapInArrow``, ``applyInPandas``,
    ``applyInPandasWithState``, ``pandas_udf`` or ``udf``, called or used
    as a decorator — and it is the ``.mapInPandas(`` inside ``map_kernel``."""
    import ast
    from pathlib import Path

    crossings = {"mapInPandas", "mapInArrow", "applyInPandas",
                 "applyInPandasWithState", "pandas_udf", "udf"}
    package = Path(pipeline.__file__).parent
    found = []
    for path in sorted(package.rglob("*.py")):
        tree = ast.parse(path.read_text())
        defs = [n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)]
        uses = [n.func for n in ast.walk(tree) if isinstance(n, ast.Call)]
        uses += [d for n in ast.walk(tree)
                 if isinstance(n, (ast.FunctionDef, ast.ClassDef))
                 for d in n.decorator_list
                 if isinstance(d, (ast.Name, ast.Attribute))]
        for node in uses:
            api = _name(node)
            if api in crossings:
                owner = max((d for d in defs
                             if d.lineno <= node.lineno <= d.end_lineno),
                            key=lambda d: d.lineno, default=None)
                found.append((path.relative_to(package).as_posix(),
                              owner and owner.name, api))
    assert found == [("pipeline.py", "map_kernel", "mapInPandas")]


def _name(node):
    """The name a ``Name`` or ``Attribute`` node refers to, else None."""
    return getattr(node, "id", None) or getattr(node, "attr", None)


def _sources():
    """(package dir, non-test caller files, test files) of the caller
    rules: the callers are the package, ``perfbench/``, ``tools/``,
    ``bench.py`` and ``__spark_entry__.py``."""
    from pathlib import Path

    package = Path(pipeline.__file__).parent
    repo = package.parent
    callers = [*package.rglob("*.py"), *(repo / "perfbench").rglob("*.py"),
               *(repo / "tools").rglob("*.py"), repo / "bench.py",
               repo / "__spark_entry__.py"]
    return package, callers, list((repo / "tests").rglob("*.py"))


# Options that only tests set, each kept for the reason beside it. The list
# may only shrink.
TEST_ONLY_OPTIONS = [
    # tests drive the CLI in-process; the console entry passes sys.argv
    ("cli.py", "main", "argv"),
    # F17: the reference's signature; its parity tests set the threshold
    ("core/fields.py", "flag_low_confidence", "threshold"),
    # M13: pad-to-max per batch group, the reference collate's shape
    ("dataset.py", "with_padded_ids", "group_col"),
    # reaches the iteration-budget RuntimeError on a long chain
    ("ops/dedup.py", "connected_components", "max_iterations"),
    # reaches the per-lane capacity guard with a short document
    ("ops/dedup.py", "simhash_signatures", "salt_buckets"),
    # the only way to build a DRI (restart-marker) JPEG, which the decoder
    # must handle on outside input
    ("ops/jpegio.py", "encode_jpeg", "restart_interval"),
]


def test_every_option_has_a_caller():
    """A public option exists only when a non-test caller sets it: an
    ``ast`` scan finds, for every default-valued parameter of the package's
    public top-level functions, a call that passes it by keyword or by
    position (``functools.partial(f, ...)`` counts as a call of ``f``). The
    callers are those of :func:`_sources`. A pass-through — ``f(x=x)`` or
    ``f(..., x)`` inside a function whose own ``x`` is an option — sets
    ``f``'s ``x`` only once that ``x`` is set. The options in
    ``TEST_ONLY_OPTIONS`` are set by tests alone; no other may be, and each
    of them must still be."""
    import ast

    package, callers, tests = _sources()
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

    sets = []  # (option, set from tests, option it passes through or None)
    for path in callers + tests:
        for call, scope in calls(ast.parse(path.read_text()), {}):
            func, args = _name(call.func), call.args
            if func == "partial" and args:
                func, args = _name(args[0]), args[1:]
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


# Public functions and classes that only tests reach, each kept for the
# reason beside it: the COVERAGE.md row of the reference operator it
# implements, or the test it is the oracle of. The list may only shrink.
TEST_ONLY_FUNCTIONS = [
    ("core/fields.py", "normalize_dates_in_result", "F3"),
    ("core/fields.py", "validate_cnh_fields", "F7"),
    ("core/fields.py", "extract_state_from_orgao", "F10"),
    ("core/fields.py", "validate_rg_fields", "F11"),
    ("core/fields.py", "validate_invoice_totals", "F14"),
    ("core/fields.py", "validate_invoice_fields", "F15"),
    ("core/fields.py", "parse_payload_json", "F16"),
    ("core/fields.py", "JSONParseError", "F16"),
    ("core/fields.py", "enrich_extraction_result", "F18"),
    ("core/fields.py", "fill_placeholder_confidence", "F22"),
    ("core/fields.py", "calculate_tax_total", "A5"),
    ("core/schemas.py", "to_struct_type", "S5"),
    ("core/schemas.py", "filter_to_schema", "P1"),
    ("core/schemas.py", "create_empty_result", "P3"),
    ("core/schemas.py", "validate_against_schema", "F19"),
    ("core/schemas.py", "schema_example", "F21"),
    ("dataset.py", "MetricsCollector", "A8"),
    ("dataset.py", "read_metrics_history", "A8"),
    ("dataset.py", "with_padded_ids", "M13"),
    ("evaluation.py", "generate_evaluation_report", "S9"),
    ("pipeline.py", "result_json_column", "S6"),
    ("pipeline.py", "write_json_sinks", "S7, S8"),
    ("ops/dedup.py", "jaccard", "test oracle for "
     "test_minhash_lsh_finds_what_exact_jaccard_finds"),
    ("ops/dedup.py", "ngram_jaccard_pairs", "test oracle for "
     "test_minhash_lsh_finds_what_exact_jaccard_finds"),
]


def test_every_public_function_has_a_caller():
    """A public top-level function or class of the package exists only when
    non-test code reaches it: an ``ast`` scan follows name references from
    the roots — the module-level code of the package, the ``__all__``
    exports, the ``@register`` catalog builders and every other caller of
    :func:`_sources` — into the bodies of the definitions they reach, to a
    fixed point. A reference from inside a definition that nothing reaches
    does not count. The definitions in ``TEST_ONLY_FUNCTIONS`` are reached
    by tests alone, each for its stated reason; no other may be, and each
    must still be reached by a test."""
    import ast
    import re
    from pathlib import Path

    package, callers, tests = _sources()

    def names(node):
        return {_name(n) for n in ast.walk(node)} - {None}

    defs, roots = {}, set()  # name -> [(module, node)]; reached names
    for path in sorted(package.rglob("*.py")):
        module = path.relative_to(package).as_posix()
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                defs.setdefault(node.name, []).append((module, node))
                for d in node.decorator_list:
                    roots |= names(d)
                    if _name(getattr(d, "func", d)) == "register":
                        roots.add(node.name)
            elif (module == "__init__.py" and isinstance(node, ast.Assign)
                  and [_name(t) for t in node.targets] == ["__all__"]):
                roots |= {e.value for e in node.value.elts}
            elif module != "__init__.py":
                roots |= names(node)
    package_files = set(package.rglob("*.py"))
    for path in callers:
        if path not in package_files:
            roots |= names(ast.parse(path.read_text()))

    def reach(roots):
        reached, todo = set(), sorted(roots & set(defs))
        while todo:
            name = todo.pop()
            if name not in reached:
                reached.add(name)
                todo += [m for _, node in defs[name] for m in names(node)
                         if m in defs and m not in reached]
        return reached

    reached = reach(roots)
    unreached = sorted((module, name) for name, found in defs.items()
                       if not name.startswith("_") and name not in reached
                       for module, _ in found)
    assert unreached == sorted((m, f) for m, f, _ in TEST_ONLY_FUNCTIONS)

    coverage = Path(package.parent / "COVERAGE.md").read_text()
    from_tests = reach(roots.union(*(names(ast.parse(p.read_text()))
                                     for p in tests)))
    for module, name, reason in TEST_ONLY_FUNCTIONS:
        oracle_of = reason.removeprefix("test oracle for ")
        rows = re.findall(r"[A-Z]\d+", reason)
        assert (oracle_of != reason and any(
                    f"def {oracle_of}(" in p.read_text() for p in tests)
                or rows and all(re.search(rf"\| {r}\b", coverage)
                                for r in rows)), (name, reason)
        assert name in from_tests, name


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
