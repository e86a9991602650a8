"""Registry-as-data: a brand-new registry (disjoint classes, its own
prefixes, enums, repeats, versions) runs through classify → extract
(both engines) → enums → route with NO code or plan changes —
the engine analog of the reference decoding a new logcode the moment
its metadata JSON exists (``metadata_payload_parser.py``)."""

import re

import pyspark.sql.functions as F
import pytest

from log_parser_project_spark.grok import grok_pattern
from log_parser_project_spark.operators.enrich import apply_enums
from log_parser_project_spark.operators.parse import (
    classify,
    explode_repeats,
    parse,
    parse_builtin,
)
from log_parser_project_spark.operators.route import route
from log_parser_project_spark.registry import Pattern

CUSTOM = (
    Pattern(
        pattern_class="status",
        version=1,
        regex=r"^STATUS op=(?P<op>[A-Za-z0-9_]+) pct=(?P<pct>[0-9]+)$",
        groups=("op", "pct"),
        route="sink_status",
        prefix="STATUS ",
    ),
    Pattern(
        pattern_class="status",
        version=2,
        regex=r"^STATUS v=2 op=(?P<op>[A-Za-z0-9_]+) pct=(?P<pct>[0-9]+) state=(?P<state>[0-9])$",
        groups=("op", "pct", "state"),
        route="sink_status",
        prefix="STATUS ",
        enum_field="state",
        enum_map={"0": "idle", "1": "busy"},
    ),
    grok_pattern(
        "alloc", 1,
        r"^ALLOC %{ALLOCLIST:items}$",
        "sink_alloc",
        extra={"ALLOCLIST": r"(?:[a-z]+=[0-9]+ ?)+"},
        prefix="ALLOC ",
        repeat_group=r"([a-z]+)=([0-9]+)",
        repeat_fields=("res", "amount"),
    ),
)

TEXTS = [
    "STATUS op=compact pct=40",
    "STATUS v=2 op=flush pct=90 state=1",
    "STATUS v=2 op=flush pct=90 state=7",   # UNKNOWN enum
    "STATUS broken",                          # classified, unmatched → quarantine
    "ALLOC cpu=4 mem=16 disk=100",
    "completely freeform",                    # unclassified
]


def _df(spark):
    rows = [("c", i, "user", t, None) for i, t in enumerate(TEXTS)]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string"
    ).withColumn("ts", F.current_timestamp())


@pytest.mark.parametrize("engine", ["pandas", "jvm"])
def test_custom_registry_end_to_end(spark, engine):
    df = _df(spark)
    parsed = (
        parse_builtin(df, patterns=CUSTOM)
        if engine == "jvm"
        else parse(df, patterns=CUSTOM)
    )
    out = route(apply_enums(parsed, patterns=CUSTOM), patterns=CUSTOM)
    rows = {r.turn_idx: r for r in out.collect()}

    assert rows[0].pattern_class == "status" and rows[0].version == 1
    assert rows[0].matched and rows[0].extracted["pct"] == "40"
    assert rows[0].route == "sink_status"

    assert rows[1].version == 2 and rows[1].extracted["state"] == "1"
    assert rows[1].state_friendly == "busy"
    assert rows[2].state_friendly == "UNKNOWN(7)"

    assert rows[3].pattern_class == "status" and not rows[3].matched
    assert rows[3].route == "sink_unmatched"

    assert rows[4].pattern_class == "alloc" and rows[4].matched
    assert [list(rec) for rec in rows[4].repeats] == [
        ["cpu", "4"], ["mem", "16"], ["disk", "100"],
    ]

    assert rows[5].pattern_class is None and rows[5].route == "sink_unmatched"


def test_custom_registry_repeat_explode(spark):
    df = _df(spark)
    recs = explode_repeats(parse(df, patterns=CUSTOM), patterns=CUSTOM).collect()
    assert [(r.record_idx, r.field1_name, r.field1_value, r.field2_value) for r in recs] == [
        (0, "res", "cpu", "4"), (1, "res", "mem", "16"), (2, "res", "disk", "100"),
    ]


def test_default_registry_unaffected(spark):
    """Parsing with the default registry still classifies only the five
    stock classes (no cross-registry leakage through the UDF cache)."""
    df = _df(spark)
    got = {r.turn_idx: r.pattern_class for r in classify(df).collect()}
    assert got == {0: None, 1: None, 2: None, 3: None, 4: None, 5: None}


def test_wide_generated_registry(spark):
    """Registry-as-data at width: 40 auto-generated pattern classes in
    one registry — classify dispatch, per-class masked extraction, and
    routing all scale with pattern count as pure data."""
    wide = tuple(
        Pattern(
            pattern_class=f"ev{i}",
            version=1,
            regex=rf"^EV{i} a=(?P<a{i}>[0-9]+) b=(?P<b{i}>[A-Za-z]+)$",
            groups=(f"a{i}", f"b{i}"),
            route=f"sink_ev{i % 4}",
            prefix=f"EV{i} ",
        )
        for i in range(40)
    )
    rows = [
        ("c", i, "user", f"EV{i % 40} a={i} b=x{'y' * (i % 3)}", None)
        for i in range(200)
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string"
    ).withColumn("ts", F.current_timestamp())
    out = route(parse(df, patterns=wide), patterns=wide)
    got = out.select("turn_idx", "pattern_class", "matched", "route", "extracted").collect()
    assert len(got) == 200
    for r in got:
        i = r.turn_idx
        assert r.pattern_class == f"ev{i % 40}" and r.matched, i
        assert r.route == f"sink_ev{(i % 40) % 4}"
        assert r.extracted[f"a{i % 40}"] == str(i)


def test_registry_json_roundtrip():
    from log_parser_project_spark.registry import (
        PATTERNS, registry_from_json, registry_to_json,
    )

    assert registry_from_json(registry_to_json()) == PATTERNS
    assert registry_from_json(registry_to_json(CUSTOM)) == CUSTOM


def test_pipeline_from_registry_json(spark, tmp_path):
    """spark-submit story: a grok-authored registry JSON drives the
    WHOLE pipeline — sinks, enum columns, repeats — with no code."""
    import json

    from log_parser_project_spark.catalog import SnapshotCatalog
    from log_parser_project_spark.plans.pipeline import read_sink, run_pipeline
    from log_parser_project_spark.registry import registry_from_json

    reg_json = [
        {
            "pattern_class": "status",
            "version": 1,
            "grok": "^STATUS op=%{WORD:op} pct=%{INT:pct}$",
            "route": "sink_status",
            "prefix": "STATUS ",
            "enum_field": "pct",
            "enum_map": {"40": "almost"},
        },
        {
            "pattern_class": "alloc",
            "version": 1,
            "grok": "^ALLOC %{ALLOCLIST:items}$",
            "grok_extra": {"ALLOCLIST": "(?:[a-z]+=[0-9]+ ?)+"},
            "route": "sink_alloc",
            "prefix": "ALLOC ",
            "repeat_group": "([a-z]+)=([0-9]+)",
            "repeat_fields": ["res", "amount"],
        },
    ]
    path = tmp_path / "registry.json"
    path.write_text(json.dumps(reg_json))
    patterns = registry_from_json(str(path))

    rows = [
        ("c1", 1, "user", "STATUS op=compact pct=40", None),
        ("c1", 2, "user", "ALLOC cpu=4 mem=16", None),
        ("c2", 1, "user", "nothing to see", None),
    ]
    tdf = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string"
    ).withColumn("ts", F.lit("2026-01-01 00:00:00").cast("timestamp"))

    cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
    res = run_pipeline(spark, tdf, cat, patterns=patterns)
    assert res.sink_counts == {"sink_status": 1, "sink_alloc": 1, "sink_unmatched": 1}
    st = read_sink(cat, "sink_status").collect()
    assert st[0].pct_friendly == "almost"
    recs = cat.read_table("sink_repeat_records").collect()
    assert {(r.field1_value, r.field2_value) for r in recs} == {("cpu", "4"), ("mem", "16")}


def test_pipeline_with_repeat_free_registry(spark, tmp_path):
    """A registry with no repeat groups must skip the repeats sink
    (regression: empty isin() from zero repeat routes)."""
    from log_parser_project_spark.catalog import SnapshotCatalog
    from log_parser_project_spark.plans.pipeline import run_pipeline

    patterns = (CUSTOM[0],)  # status v1 only — no repeat_group
    tdf = spark.createDataFrame(
        [("c1", 1, "user", "STATUS op=x pct=1", None)],
        "conv_id string, turn_idx int, role string, text string, tool string",
    ).withColumn("ts", F.lit("2026-01-01 00:00:00").cast("timestamp"))
    cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
    res = run_pipeline(spark, tdf, cat, patterns=patterns)
    assert res.sink_counts == {"sink_status": 1, "sink_unmatched": 0}
    import os
    assert not os.path.isdir(cat.path("sink_repeat_records"))


def test_checkpointed_pipeline_honors_custom_registry(spark, tmp_path):
    """--checkpointed must parse with the SUPPLIED registry (regression:
    it silently used the default registry and quarantined everything)."""
    from log_parser_project_spark.catalog import SnapshotCatalog
    from log_parser_project_spark.streaming.checkpoint import CheckpointedPipeline

    tdf = spark.createDataFrame(
        [("c1", 1, "user", "STATUS op=x pct=1", None),
         ("c2", 1, "user", "junk", None)],
        "conv_id string, turn_idx int, role string, text string, tool string",
    ).withColumn("ts", F.lit("2026-01-01 00:00:00").cast("timestamp"))
    cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
    cp = CheckpointedPipeline(
        spark, cat, n_groups=2, job_id="t", patterns=(CUSTOM[0],)
    )
    cp.run(tdf)
    out = cp.read_output().collect()
    by_conv = {r.conv_id: r for r in out}
    assert by_conv["c1"].route == "sink_status" and by_conv["c1"].matched
    assert by_conv["c2"].route == "sink_unmatched"


def test_shared_enum_field_across_versions(spark):
    """Two versions of a class with the same enum_field but DIFFERENT
    maps: one friendly column, each row mapped through ITS version's
    map (regression: duplicate column + last-map-wins)."""
    from log_parser_project_spark.plans.pipeline import sink_columns

    pats = (
        Pattern("st", 1, r"^ST s=(?P<s>[0-9])$", ("s",), "sink_st",
                prefix="ST ", enum_field="s", enum_map={"1": "one_v1"}),
        Pattern("st", 2, r"^ST v=2 s=(?P<s>[0-9])$", ("s",), "sink_st",
                prefix="ST ", enum_field="s", enum_map={"1": "one_v2"}),
    )
    cols = sink_columns(pats)
    assert cols.count("s_friendly") == 1
    df = spark.createDataFrame(
        [("c", 1, "user", "ST s=1", None), ("c", 2, "user", "ST v=2 s=1", None)],
        "conv_id string, turn_idx int, role string, text string, tool string",
    ).withColumn("ts", F.current_timestamp())
    out = {r.turn_idx: r.s_friendly
           for r in apply_enums(parse(df, patterns=pats), pats).collect()}
    assert out == {1: "one_v1", 2: "one_v2"}


def test_prefixless_class_fails_loudly(spark):
    pats = (Pattern("ghost", 1, r"^G (?P<g>[0-9])$", ("g",), "sink_g"),)
    df = _df(spark)
    with pytest.raises(ValueError, match="ghost.*prefix"):
        classify(df, patterns=pats)


def test_registry_from_json_bad_path_raises_filenotfound():
    from log_parser_project_spark.registry import registry_from_json

    with pytest.raises(FileNotFoundError):
        registry_from_json("/no/such/registry.json")


def test_optional_first_group_matches_on_all_engines(spark):
    """A custom pattern whose FIRST capture group is optional: the match
    verdict must come from whole-regex validity (jvm semantics),
    not first-group-non-null — ADVICE r01 divergence regression."""
    opt = (
        Pattern(
            pattern_class="status",
            version=1,
            regex=r"^STATUS (?P<tag>\[[a-z]+\] )?op=(?P<op>[a-z]+)$",
            groups=("tag", "op"),
            route="sink_status",
            prefix="STATUS ",
        ),
    )
    rows = [("c", 0, "user", "STATUS op=merge", None),
            ("c", 1, "user", "STATUS [hot] op=merge", None)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string"
    ).withColumn("ts", F.current_timestamp())
    for engine in ("pandas", "jvm"):
        parsed = parse_builtin(df, patterns=opt) if engine == "jvm" else parse(df, patterns=opt)
        got = {r.turn_idx: (r.matched, r.extracted["op"]) for r in parsed.collect()}
        assert got[0] == (True, "merge"), engine
        assert got[1] == (True, "merge"), engine


def test_choose_extractor_resolution(spark):
    """choose_extractor: portable static registries compile to the jvm
    path; registries using engine-divergent regex features (\\w, inline
    flags, lookbehind) stay on Python-re semantics."""
    from log_parser_project_spark.operators.parse import choose_extractor
    from log_parser_project_spark.registry import PATTERNS

    assert choose_extractor(spark, PATTERNS) == "jvm"
    assert choose_extractor(spark, CUSTOM) == "jvm"

    wordy = (
        Pattern(
            pattern_class="status", version=1,
            regex=r"^STATUS op=(?P<op>\w+)$",  # \w: Unicode tables diverge
            groups=("op",), route="sink_status", prefix="STATUS ",
        ),
    )
    assert choose_extractor(spark, wordy) == "pandas"

    lookbehind = (
        Pattern(
            pattern_class="status", version=1,
            regex=r"^STATUS (?<=S)(?P<op>[a-z]+)$",
            groups=("op",), route="sink_status", prefix="STATUS ",
        ),
    )
    assert choose_extractor(spark, lookbehind) == "pandas"


def test_pipeline_auto_extractor_matches_pandas(spark):
    """build_routed (the shipped registry picks jvm) and the pandas
    engine produce identical routed rows."""
    from log_parser_project_spark.generate import make_transcripts
    from log_parser_project_spark.plans.pipeline import build_routed

    t = make_transcripts(spark, n_convs=60)
    auto = build_routed(spark, t)
    ref = route(parse(t))
    cols = ["conv_id", "turn_idx", "route", "matched", "pattern_class"]
    assert sorted(map(tuple, auto.select(cols).collect())) == \
           sorted(map(tuple, ref.select(cols).collect()))


def test_optional_group_registry_stays_on_pandas(spark):
    """Non-participating optional groups decode as NULL on pandas but ""
    on JVM — choose_extractor must keep such registries on the
    Python-re engine whose semantics the oracle implements."""
    from log_parser_project_spark.operators.parse import choose_extractor

    opt = (
        Pattern(
            pattern_class="status", version=1,
            regex=r"^STATUS (?P<tag>\[[a-z]+\] )?op=(?P<op>[a-z]+)$",
            groups=("tag", "op"), route="sink_status", prefix="STATUS ",
        ),
    )
    assert choose_extractor(spark, opt) == "pandas"


def test_registry_java_rejects_stays_on_pandas(spark):
    """A portable regex that java.util.regex refuses (``a{,3}``, which
    Python re reads as 0..3 repeats) runs on pandas, with Python-re
    semantics."""
    from log_parser_project_spark.operators.parse import choose_extractor
    from log_parser_project_spark.plans.pipeline import build_routed

    pats = (
        Pattern(
            pattern_class="ev", version=1, regex=r"^EV (?P<n>a{,3})b$",
            groups=("n",), route="sink_ev", prefix="EV ",
        ),
    )
    assert choose_extractor(spark, pats) == "pandas"
    df = spark.createDataFrame(
        [("c", 0, "user", "EV aab", None), ("c", 1, "user", "EV a{,3}b", None)],
        "conv_id string, turn_idx int, role string, text string, tool string",
    ).withColumn("ts", F.current_timestamp())
    got = {
        r.turn_idx: (r.matched, r.extracted["n"])
        for r in build_routed(spark, df, patterns=pats).collect()
    }
    assert got == {0: (True, "aa"), 1: (False, None)}


def test_optional_capture_detection_handles_exotic_ops():
    """Possessive quantifiers / atomic groups (py3.11 re) and unknown
    composites must not slip optional captures past the detector."""
    from log_parser_project_spark.operators.parse import _has_optional_capture

    assert _has_optional_capture(r"^X(?:(?P<a>[a-z])b)*+$")
    assert _has_optional_capture(r"^X(?>(?P<a>[a-z]+) )?y$")
    assert not _has_optional_capture(r"^X(?>(?P<a>[a-z]+)) y$")


def test_choose_extractor_screens_repeat_group(spark):
    """A portable main regex with an engine-divergent repeat_group
    (\\w tracks different Unicode tables per engine) must not go jvm."""
    from log_parser_project_spark.operators.parse import choose_extractor

    pats = (
        Pattern(
            pattern_class="alloc", version=1,
            regex=r"^ALLOC (?P<items>(?:[a-z]+=[0-9]+ ?)+)$",
            groups=("items",), route="sink_alloc", prefix="ALLOC ",
            repeat_group=r"(\w+)=(\d+)", repeat_fields=("res", "amount"),
        ),
    )
    assert choose_extractor(spark, pats) == "pandas"


def test_bytes_conf_two_letter_suffixes(spark):
    from log_parser_project_spark.queries import _bytes_conf

    spark.conf.set("x.test.bytes", "64kb")
    assert _bytes_conf(spark, "x.test.bytes", 1) == 64 * 1024
    spark.conf.set("x.test.bytes", "1gb")
    assert _bytes_conf(spark, "x.test.bytes", 1) == 2**30
    spark.conf.set("x.test.bytes", "134217728b")
    assert _bytes_conf(spark, "x.test.bytes", 1) == 134217728
    spark.conf.set("x.test.bytes", "weird")
    assert _bytes_conf(spark, "x.test.bytes", 42) == 42
    spark.conf.unset("x.test.bytes")
