"""Physical-plan shape assertions — the `.explain("formatted")`
discipline, automated: broadcasts stay broadcasts, filters reach the
parquet scan, the pandas UDF runs exactly once, partition pruning
prunes.
"""

import pyspark.sql.functions as F

from log_parser_project_spark.catalog import SnapshotCatalog
from log_parser_project_spark.generate import make_transcripts
from log_parser_project_spark.plans.pipeline import STAGING_TABLE, build_routed, read_sink, run_pipeline
from log_parser_project_spark.contract import ordered_queries

QUERIES = ordered_queries()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_enrich_joins_are_broadcast(spark, sf_dir):
    fn, _ = QUERIES["q_j1_broadcast_enrich"]
    plan = _plan(fn(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_pricing_filter_pushed_to_scan(spark, sf_dir):
    fn, _ = QUERIES["q_a9_pricing_summary"]
    plan = _plan(fn(spark, sf_dir))
    # predicate reaches the parquet source
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: unused lineitem columns don't reach the scan
    assert "l_comment" not in plan and "l_partkey" not in plan


def test_parse_udf_evaluated_once(spark):
    from dataclasses import replace

    from log_parser_project_spark.operators.parse import choose_extractor
    from log_parser_project_spark.registry import PATTERNS

    tdf = make_transcripts(spark, n_convs=50)
    # \d tracks different Unicode tables in Python and Java, so this
    # copy of the shipped registry runs on the pandas UDF
    digits = tuple(replace(p, regex=p.regex.replace("[0-9]", r"\d")) for p in PATTERNS)
    assert choose_extractor(spark, digits) == "pandas"
    plan = _plan(build_routed(spark, tdf, patterns=digits))
    assert plan.count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in plan  # no row-at-a-time python
    # the shipped registry itself compiles to the JVM path: no Python
    # exchange at all
    plan = _plan(build_routed(spark, tdf))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_narrow_plan_has_no_join_exchange_rdd_or_python(spark):
    """The shipped registry's narrow plan: enrich is literal map
    lookups (no broadcast of Python-built dims, so no ExistingRDD
    scan) and extraction is JVM expressions (no Python node)."""
    plan = _plan(build_routed(spark, make_transcripts(spark, n_convs=20)))
    for node in ("BroadcastExchange", "ExistingRDD", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in plan, node


_BUILDERS = (
    "choose_extractor", "classify_columns", "extract_builtin_columns",
    "extract_udf_columns", "enrich_columns", "enum_columns",
    "derive_columns", "route_column",
)


def test_registry_compiles_once(spark, monkeypatch):
    """A second build_routed with the same registry reuses the compiled
    expressions: no builder runs again."""
    from log_parser_project_spark.plans import pipeline

    calls = []
    for name in _BUILDERS:
        fn = getattr(pipeline, name)
        monkeypatch.setattr(
            pipeline, name, lambda *a, _fn=fn, _name=name, **k: calls.append(_name) or _fn(*a, **k)
        )
    monkeypatch.setattr(pipeline, "_NARROW", {})
    tdf = make_transcripts(spark, n_convs=5)
    first = build_routed(spark, tdf)
    assert "classify_columns" in calls and "choose_extractor" in calls
    n = len(calls)
    second = build_routed(spark, tdf)
    assert len(calls) == n
    assert second.schema == first.schema
    assert len(pipeline._NARROW) == 1


def test_enum_map_change_gets_its_own_plan(spark, monkeypatch):
    """Registries equal but for an enum_map compile separately, and each
    plan's ``_friendly`` column uses its own map."""
    from dataclasses import replace

    from log_parser_project_spark.plans import pipeline
    from log_parser_project_spark.registry import PATTERNS

    monkeypatch.setattr(pipeline, "_NARROW", {})
    loud = tuple(
        replace(p, enum_map={k: v.upper() for k, v in p.enum_map.items()}) if p.enum_map else p
        for p in PATTERNS
    )
    df = spark.createDataFrame(
        [("c", 0, "tool", "ERROR code=1 severity=4 msg='m'", None)],
        "conv_id string, turn_idx int, role string, text string, tool string",
    ).withColumn("ts", F.current_timestamp())
    assert build_routed(spark, df).first().severity_friendly == "error"
    assert build_routed(spark, df, patterns=loud).first().severity_friendly == "ERROR"
    assert len(pipeline._NARROW) == 2
    assert build_routed(spark, df).first().severity_friendly == "error"
    assert len(pipeline._NARROW) == 2


def test_concurrent_first_calls_share_one_plan(spark, monkeypatch):
    """Threads racing on an empty cache all get the same output schema
    and leave one entry."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from log_parser_project_spark.plans import pipeline

    monkeypatch.setattr(pipeline, "_NARROW", {})
    tdf = make_transcripts(spark, n_convs=5)
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            futs = [pool.submit(build_routed, spark, tdf) for _ in range(8)]
            schemas = [f.result(timeout=300).schema for f in futs]
    finally:
        sys.setswitchinterval(old)
    assert all(s == schemas[0] for s in schemas)
    assert len(pipeline._NARROW) == 1


def test_compiled_plan_is_rebuilt_for_another_gateway(spark, monkeypatch):
    """An entry built through another py4j gateway is never applied: it
    is rebuilt against the session's own."""
    import dataclasses

    from log_parser_project_spark.plans import pipeline
    from log_parser_project_spark.registry import PATTERNS

    monkeypatch.setattr(pipeline, "_NARROW", {})
    tdf = make_transcripts(spark, n_convs=5)
    build_routed(spark, tdf)
    (key, plan), = pipeline._NARROW.items()
    pipeline._NARROW[key] = dataclasses.replace(plan, jvm=object())
    build_routed(spark, tdf, patterns=PATTERNS)
    assert pipeline._NARROW[key].jvm is spark._jvm


def test_sink_read_prunes_partitions(spark, transcripts_small, tmp_path):
    cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
    run_pipeline(spark, transcripts_small, cat, write_repeats=False)
    plan = _plan(read_sink(cat, "sink_errors").select("conv_id"))
    # partition filter on the route= directory level, not a data filter
    assert "PartitionFilters" in plan and "route" in plan.split("PartitionFilters", 1)[1][:200]


def test_aggregate_has_partial_phase(spark, sf_dir):
    fn, _ = QUERIES["q_a9_pricing_summary"]
    plan = _plan(fn(spark, sf_dir))
    # partial (map-side) + final hash aggregation
    assert plan.count("HashAggregate") >= 2


def test_anti_join_stays_broadcast_at_dim_scale(spark, sf_dir):
    fn, _ = QUERIES["q_j5_anti_missing"]
    plan = _plan(fn(spark, sf_dir))
    assert "LeftAnti" in plan


def test_version_lookup_dim_is_broadcast(spark, sf_dir):
    import log_parser_project_spark.queries_ops2  # noqa: F401

    fn, _ = QUERIES["q_j2_version_lookup"]
    plan = _plan(fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_description_cleanup_filter_pushed(spark, sf_dir):
    import log_parser_project_spark.queries_ops2  # noqa: F401

    fn, _ = QUERIES["q_p9_description_cleanup"]
    plan = _plan(fn(spark, sf_dir))
    assert "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,200)]" in plan
    # column pruning: only doc_id + text reach the scan
    assert "ReadSchema" in plan and "n_chars" not in plan


def test_ivf_cell_join_is_broadcast(spark, sf_dir):
    import log_parser_project_spark.queries_ops2  # noqa: F401

    fn, _ = QUERIES["q_sim_ivf_topk"]
    plan = _plan(fn(spark, sf_dir))
    # probed queries are the broadcast side; corpus never shuffles for the join
    assert "BroadcastHashJoin" in plan


def test_repeat_explode_evaluates_parse_udf_once(spark):
    """posexplode over the UDF-derived repeats array must not trigger a
    second ArrowEvalPython (InferFiltersFromGenerate is excluded — it
    would re-insert a size()>0 filter that doubles the parse cost)."""
    from log_parser_project_spark.operators.parse import explode_repeats, parse

    tdf = make_transcripts(spark, n_convs=50)
    plan = _plan(explode_repeats(parse(tdf)))
    assert plan.count("ArrowEvalPython") == 1


def test_neardup_plan_has_no_cartesian_node(spark, sf_dir):
    """q_sim_neardup is exact all-pairs but must NOT plan a
    Cartesian/nested-loop join (VERDICT r01): pairs meet in hash-block
    groups scored by a per-group GEMM."""
    fn, _ = QUERIES["q_sim_neardup"]
    plan = _plan(fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "FlatMapGroupsInPandas" in plan


def test_jaccard_contract_runs_guarded(spark, sf_dir):
    """q_dd_jaccard3_pairs engages the stop-shingle doc-frequency guard:
    the plan contains the shingle-frequency semi-join before the
    shingle self-join (an unguarded hot shingle is quadratic)."""
    fn, _ = QUERIES["q_dd_jaccard3_pairs"]
    plan = _optimized(fn(spark, sf_dir))
    assert "LeftSemi" in plan


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    """Co-located join via bucketing (the Iceberg bucket(N, col)
    analog): both sides bucketed on the join key at the same bucket
    count ⇒ the sort-merge join plans with NO Exchange on either side,
    and results equal the plain join."""
    import pyspark.sql.functions as F

    cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet").withColumn(
        "o_custkey", F.col("c_custkey")
    )
    bo = cat.write_bucketed(o, "bt_orders", "o_custkey", 8)
    bc = cat.write_bucketed(c, "bt_cust", "o_custkey", 8)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = bo.join(bc, "o_custkey")
        plan = _plan(j)
        assert "Exchange" not in plan
        assert "Bucketed: true" in plan
        want = o.join(c, "o_custkey").count()
        assert j.count() == want > 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS bt_orders")
        spark.sql("DROP TABLE IF EXISTS bt_cust")


def test_so_membership_uses_real_semi_and_anti_joins(spark, sf_dir):
    """The merged membership query must pin the actual join operators —
    one LeftSemi and one LeftAnti — not a rewritten outer-join-with-flag."""
    fn, _ = QUERIES["q_so_membership"]
    plan = _plan(fn(spark, sf_dir))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan


def test_merged_profiles_are_single_pass(spark, sf_dir):
    """q_p7a6_brand_profile and q_tx_doc_profile merge 2-3 former
    queries but must still be ONE scan + ONE partial/final aggregate
    over their table — merging must not stack extra shuffles."""
    for name in ("q_p7a6_brand_profile", "q_tx_doc_profile"):
        fn, _ = QUERIES[name]
        plan = _plan(fn(spark, sf_dir))
        # one exchange for the final grouping (plus AQE reads); no join
        assert "Join" not in plan, name
        assert plan.count("Scan parquet") == 1, name


def test_fx_bitmath_single_scan_no_join(spark, sf_dir):
    fn, _ = QUERIES["q_fx_bitmath"]
    plan = _plan(fn(spark, sf_dir))
    assert "Join" not in plan
    assert plan.count("Scan parquet") == 1


def test_stratified_sample_avoids_whole_stratum_sort(spark, sf_dir):
    """stratified_sample_exact's only per-row sort must be within
    (stratum, bucket) — never the whole stratum — and the selection
    plan joins the driver-small prefix/quota table by broadcast."""
    from log_parser_project_spark.operators.sampling import stratified_sample_exact

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(stratified_sample_exact(d, "lang", "doc_id", pct=10))
    assert "BroadcastHashJoin" in plan
    # the phase-2 rank window partitions on [lang, _b]; a whole-stratum
    # sort would show a Window/Sort keyed on lang alone
    import re

    row_windows = [
        w for w in re.findall(r"Window \[row_number\(\).*", plan)
    ]
    assert row_windows and all("_b" in w for w in row_windows), row_windows


def test_tfidf_rank_window_is_per_document(spark, sf_dir):
    """tfidf_topk: the corpus-size scalar joins by broadcast, the rank
    window partitions per doc_id (bounded by one document's vocabulary,
    never corpus-sized), and `rnk <= k` is pushed down into a PARTIAL
    WindowGroupLimit — map-side top-k pruning before the window
    exchange, so only ~k rows per (partition, doc) ever shuffle."""
    from log_parser_project_spark.operators.text import tfidf_topk

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(tfidf_topk(d, k=3))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "Window [row_number()" in plan and "[doc_id" in plan.split(
        "Window [row_number()", 1
    )[1]
    assert "row_number(), 3, Partial" in plan and "row_number(), 3, Final" in plan


def test_temporal_lookups_have_no_join_and_one_exchange(spark, sf_dir):
    """The expression-path as-of and range lookups are literally
    join-free: the ONLY exchange in either contract query is the final
    aggregate's — the version/interval resolution itself is a codegen'd
    expression over a literal map."""
    for name in ("q_j_asof_rates", "q_j_range_campaigns"):
        fn, _ = QUERIES[name]
        plan = _plan(fn(spark, sf_dir))
        assert plan.count("Exchange") == 1, name
        assert "Join" not in plan, name


def test_chunk_windows_has_no_shuffle(spark, sf_dir):
    """Chunking is embarrassingly parallel: the whole query must stay
    in the scan stage — no Exchange beyond the test-spread repartition,
    no join, no aggregate."""
    fn, _ = QUERIES["q_td_chunk_windows"]
    plan = _plan(fn(spark, sf_dir))
    assert plan.count("Exchange") <= 1  # only the _spread repartition
    assert "Join" not in plan and "HashAggregate" not in plan


def test_dup_spans_single_scan_no_join(spark, sf_dir):
    """The duplicate-span plan must compute the span table ONCE (a
    groupBy+self-join formulation re-shingles the corpus per join
    side) and contain no join at all — the >=2-docs test is a window
    over the span-key shuffle."""
    fn, _ = QUERIES["q_dd_dup_spans"]
    plan = _plan(fn(spark, sf_dir))
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert "Window" in plan


def test_model_quality_is_pure_jvm_expressions(spark, sf_dir):
    """The hashed-linear scorer must evaluate as JVM expressions in the
    scan stage: no python evaluation, no weight-table join, no
    aggregate exchange. (HOF lambdas are interpreted JVM expressions —
    they don't enter whole-stage codegen — so the assertion is
    no-python/no-join/no-agg, not a codegen span.)"""
    fn, _ = QUERIES["q_tx_model_quality"]
    plan = _plan(fn(spark, sf_dir))
    assert "Join" not in plan and "HashAggregate" not in plan
    assert "EvalPython" not in plan
    assert plan.count("Exchange") <= 1  # only the _spread repartition


def test_no_contract_query_uses_cartesian_or_row_python(spark, sf_dir):
    """Fleet-wide plan guard over EVERY registered query (not just the
    window): no Cartesian product, no row-at-a-time Python eval — the
    two regressions that silently survive value-level testing. Builders
    that execute eagerly (streaming drain, k-means training, importance
    table collect) still return a final DataFrame whose plan is what
    ships; that plan is what's asserted."""
    from log_parser_project_spark.contract import ordered_queries

    bad = {}
    for name, (fn, _sql) in ordered_queries().items():
        plan = _plan(fn(spark, sf_dir))
        if "CartesianProduct" in plan or "BatchEvalPython" in plan:
            bad[name] = plan[:300]
    assert not bad, f"queries with banned plan nodes: {sorted(bad)}"
