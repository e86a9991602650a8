"""Property-based fuzz: for ARBITRARY text (not just generator
templates), the Spark parse pipeline and the pure-Python oracle agree
on classification, matching, extraction, and routing. Catches template
blind spots — near-miss prefixes, empty groups, unicode, adversarial
separators.
"""

from datetime import datetime

import pyspark.sql.functions as F
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from log_parser_project_spark.oracle import parse_row
from log_parser_project_spark.operators.parse import parse, parse_builtin
from log_parser_project_spark.registry import ALL_GROUPS

# texts that look *almost* like registry templates, plus arbitrary junk
_word = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd")), min_size=1, max_size=8
)
_near_miss = st.one_of(
    st.builds(lambda t, a: f"CALL {t} args={{{a}}}", _word, st.text(max_size=20).filter(lambda s: "}" not in s)),
    st.builds(lambda c, s, m: f"ERROR code={c} severity={s} msg='{m}'",
              st.integers(0, 10**6), st.integers(0, 99), st.text(max_size=15).filter(lambda s: "'" not in s)),
    st.builds(lambda d, p: f"see [doc-{d}#{p}]", st.integers(-5, 10**9), st.integers(0, 10**9)),
    st.builds(lambda l, t: f"latency_ms={l} tokens={t}", st.floats(0, 1e6, allow_nan=False), st.integers(0, 10**6)),
    st.builds(lambda r, w, v: f"HANDOFF {v}to={r} reason={w}", _word, _word,
              st.sampled_from(["", "v=2 ", "v=3 ", "v=x "])),
    st.text(max_size=60).filter(lambda s: "\x1e" not in s and "\x1f" not in s),
    st.sampled_from(["CALL", "ERROR ", "see [", "latency_ms=", "HANDOFF ", "", " ",
                     "CALL  args={}", "ERROR code= severity= msg=''"]),
)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(_near_miss, min_size=1, max_size=40))
def test_parse_matches_oracle_on_arbitrary_text(spark, texts):
    rows = [
        (f"conv-{i:04d}", i, "user", t, None, datetime(2026, 1, 1, 0, 0, i % 60))
        for i, t in enumerate(texts)
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    for engine, parser in (("pandas", parse), ("jvm", parse_builtin)):
        got = {
            r.turn_idx: (r.pattern_class, r.matched, tuple(r.extracted[g] for g in ALL_GROUPS))
            for r in parser(df).collect()
        }
        for i, t in enumerate(texts):
            want = parse_row(t)
            assert got[i][0] == want["pattern_class"], (engine, t)
            assert got[i][1] == want["matched"], (engine, t)
            assert got[i][2] == tuple(want[g] for g in ALL_GROUPS), (engine, t)
