"""The pandas-UDF extraction and the pure-JVM extraction must be
row-for-row identical — matched flags, every extracted group, and the
repeat arrays — on the full synthetic corpus."""

import pyspark.sql.functions as F

from log_parser_project_spark.operators.parse import parse, parse_builtin
from log_parser_project_spark.registry import ALL_GROUPS


def _rows(df):
    return {
        (r.conv_id, r.turn_idx): (
            r.matched,
            tuple(r.extracted[g] for g in ALL_GROUPS),
            tuple(tuple(rec) for rec in r.repeats) if r.repeats is not None else None,
        )
        for r in df.select("conv_id", "turn_idx", "matched", "extracted", "repeats").collect()
    }


def test_udf_and_builtin_extraction_identical(spark, transcripts_small):
    a = _rows(parse(transcripts_small))
    b = _rows(parse_builtin(transcripts_small))
    assert a.keys() == b.keys()
    diffs = {k: (a[k], b[k]) for k in a if a[k] != b[k]}
    assert not diffs, f"{len(diffs)} mismatches, e.g. {next(iter(diffs.items()))}"


def test_jvm_line_terminator_parity(spark):
    """Python's ``$`` matches before one trailing ``\\n`` and no other
    line terminator; the JVM engine must agree — including NOT matching
    two newlines, an interior one, or a trailing ``\\r``/``\\u0085``/
    ``\\u2028`` (Java's default ``$`` accepts those)."""
    texts = [
        "latency_ms=5 tokens=10",
        "latency_ms=5 tokens=10\n",
        "latency_ms=5 tokens=10\n\n",
        "latency_ms=5 tokens=10\nx",
        "HANDOFF to=a reason=b\n",
        "latency_ms=5 tokens=10\r",
        "latency_ms=5 tokens=10\u0085",
        "HANDOFF to=a reason=b\u2028",
    ]
    df = spark.createDataFrame(
        [("c", i, "user", x, None) for i, x in enumerate(texts, 1)],
        "conv_id string, turn_idx int, role string, text string, tool string",
    ).withColumn("ts", F.current_timestamp())
    a = _rows(parse(df))
    b = _rows(parse_builtin(df))
    assert a == b
    assert [a[("c", i)][0] for i in range(1, 9)] == [
        True, True, False, False, True, False, False, False,
    ]


def test_builtin_plan_is_pure_jvm(spark, transcripts_small):
    plan = parse_builtin(transcripts_small)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
