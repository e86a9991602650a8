"""Oracle-equality suite: Spark pipeline vs pure-pandas reference.

Asserts the FIXTURES.md §4 contract: routed-row set equality per sink,
per-sink aggregate count equality, and per-turn text equality under
stable (conv_id, turn_idx) ordering.
"""

import pandas as pd
import pyspark.sql.functions as F
import pytest

from log_parser_project_spark.oracle import run_oracle
from log_parser_project_spark.operators.aggregate import per_sink_aggregates
from log_parser_project_spark.operators.parse import explode_repeats
from log_parser_project_spark.plans.pipeline import build_routed
from log_parser_project_spark.registry import SINKS


@pytest.fixture(scope="module")
def routed(spark, transcripts_small):
    df = build_routed(spark, transcripts_small)
    df.persist()
    df.count()
    return df


@pytest.fixture(scope="module")
def oracle(transcripts_small):
    pdf = transcripts_small.toPandas()
    return run_oracle(pdf)


def test_sink_counts_match(routed, oracle):
    got = {r["route"]: r["n"] for r in routed.groupBy("route").agg(F.count("*").alias("n")).collect()}
    for sink in SINKS:
        assert got.get(sink, 0) == oracle["sink_counts"].get(sink, 0), sink
    assert sum(got.values()) == sum(oracle["sink_counts"].values())


def test_routed_row_set_equality(routed, oracle):
    """(conv_id, turn_idx, route, pattern_class, extracted-groups) set equality."""
    from log_parser_project_spark.registry import ALL_GROUPS

    spark_rows = set(
        tuple(r)
        for r in routed.select(
            "conv_id", "turn_idx", "route", "pattern_class",
            *[F.col(f"extracted.{g}") for g in ALL_GROUPS],
        ).collect()
    )
    odf = oracle["routed"]
    oracle_rows = set(
        (
            rec["conv_id"], rec["turn_idx"], rec["route"],
            rec["pattern_class"] if pd.notna(rec["pattern_class"]) else None,
            *[rec[g] if rec[g] is not None and pd.notna(rec[g]) else None for g in ALL_GROUPS],
        )
        for rec in odf.to_dict("records")
    )
    assert spark_rows == oracle_rows


def test_per_turn_text_equality_stable_order(routed, oracle):
    """W1 invariant: text identical per turn under stable ordering."""
    got = [
        (r.conv_id, r.turn_idx, r.text)
        for r in routed.orderBy("conv_id", "turn_idx").select("conv_id", "turn_idx", "text").collect()
    ]
    want = [
        (rec["conv_id"], rec["turn_idx"], rec["text"])
        for rec in oracle["routed"]
        .sort_values(["conv_id", "turn_idx"])
        .to_dict("records")
    ]
    assert got == want


def test_enrichment_matches(routed, oracle):
    got = {
        (r.conv_id, r.turn_idx): (r.role_class, r.weight, r.tool_family, r.risk_level)
        for r in routed.select("conv_id", "turn_idx", "role_class", "weight", "tool_family", "risk_level").collect()
    }
    for rec in oracle["routed"].to_dict("records"):
        key = (rec["conv_id"], rec["turn_idx"])
        want = tuple(
            None if v is None or pd.isna(v) else v
            for v in (rec["role_class"], rec["weight"], rec["tool_family"], rec["risk_level"])
        )
        assert got[key] == want, key


def test_derived_and_enum_columns(routed, oracle):
    got = {
        (r.conv_id, r.turn_idx): (r.severity_friendly, r.tokens_per_sec)
        for r in routed.filter(
            F.col("severity_friendly").isNotNull() | F.col("tokens_per_sec").isNotNull()
        ).select("conv_id", "turn_idx", "severity_friendly", "tokens_per_sec").collect()
    }
    want = {}
    for rec in oracle["routed"].to_dict("records"):
        sf, tps = rec.get("severity_friendly"), rec.get("tokens_per_sec")
        has_sf = sf is not None and pd.notna(sf)
        has_tps = tps is not None and pd.notna(tps)
        if has_sf or has_tps:
            want[(rec["conv_id"], rec["turn_idx"])] = (
                sf if has_sf else None,
                tps if has_tps else None,
            )
    assert got == want


def test_aggregates_match(routed, oracle):
    aggs = per_sink_aggregates(routed)
    by_conv = {r.conv_id: r.n for r in aggs["by_conv"].collect()}
    assert by_conv == oracle["by_conv"]
    by_role = {(r.route, r.role): r.n for r in aggs["by_role"].collect()}
    assert by_role == oracle["by_role"]
    by_tool = {(r.route, r.tool): r.n for r in aggs["by_tool"].collect()}
    assert by_tool == oracle["by_tool"]
    by_hour = {(r.route, pd.Timestamp(r.hour)): r.n for r in aggs["by_hour"].collect()}
    assert by_hour == oracle["by_hour"]


def test_onepass_aggregates_match_per_aggregate(routed, oracle):
    """The single grouping-sets job must produce byte-identical results
    to the four independent aggregates (and therefore to the oracle)."""
    from log_parser_project_spark.operators.aggregate import per_sink_aggregates_onepass

    _shared, one = per_sink_aggregates_onepass(routed)
    assert {r.conv_id: r.n for r in one["by_conv"].collect()} == oracle["by_conv"]
    assert {(r.route, r.role): r.n for r in one["by_role"].collect()} == oracle["by_role"]
    assert {(r.route, r.tool): r.n for r in one["by_tool"].collect()} == oracle["by_tool"]
    assert {
        (r.route, pd.Timestamp(r.hour)): r.n for r in one["by_hour"].collect()
    } == oracle["by_hour"]


def test_repeat_records_explode(routed, oracle):
    rep = explode_repeats(routed)
    got = set(
        (r.conv_id, r.turn_idx, r.pattern_class, r.record_idx, (r.field1_value, r.field2_value))
        for r in rep.collect()
    )
    want = set(
        (c, t, pc, i, tuple(tup)) for (c, t, pc, i, tup) in oracle["repeat_records"]
    )
    assert got == want


def test_enrichment_of_unknown_and_null_keys(spark):
    """A role or tool the dims lack, and a null tool, enrich to null —
    the left-join result and the oracle's dict ``.get``."""
    import datetime as dt

    ts = dt.datetime(2026, 3, 1, 12, 0, 0)
    rows = [
        ("c-1", 0, "user", "CALL search args={q=1}", "search", ts),      # both known
        ("c-1", 1, "auditor", "ERROR code=7 severity=3 msg='x'", "bash", ts),  # unknown role
        ("c-1", 2, "tool", "CALL fetch args={}", "teleporter", ts),     # unknown tool
        ("c-1", 3, "assistant", "latency_ms=5 tokens=10", None, ts),    # null tool
        ("c-1", 4, None, "no pattern here", "", ts),                    # null role, empty tool
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    got = {
        r.turn_idx: (r.role_class, r.weight, r.tool_family, r.risk_level)
        for r in build_routed(spark, df).collect()
    }
    assert got == {
        0: ("human", 1, "retrieval", 1),
        1: (None, None, "exec", 3),
        2: ("infra", 2, None, None),
        3: ("model", 1, None, None),
        4: (None, None, None, None),
    }
    want = {
        rec["turn_idx"]: tuple(
            None if v is None or pd.isna(v) else v
            for v in (rec["role_class"], rec["weight"], rec["tool_family"], rec["risk_level"])
        )
        for rec in run_oracle(df.toPandas())["routed"].to_dict("records")
    }
    assert got == want
