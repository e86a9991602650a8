"""Grok syntax compiles to exactly the deployed registry regexes, and
grok-authored patterns parse identically through the real pipeline."""

import re

import pytest

from log_parser_project_spark.grok import (
    GROK_REGISTRY,
    grok_fields,
    grok_pattern,
    grok_to_regex,
)
from log_parser_project_spark.registry import by_class_version


def test_grok_registry_compiles_to_deployed_regexes():
    reg = by_class_version()
    for pclass, ver, grok, route in GROK_REGISTRY:
        deployed = reg[(pclass, ver)]
        assert grok_to_regex(grok) == deployed.regex, (pclass, ver)
        assert grok_fields(grok) == deployed.groups
        assert route == deployed.route


def test_grok_pattern_builds_registry_pattern():
    p = grok_pattern(
        "error", 1,
        r"^ERROR code=%{INT:code} severity=%{DIGIT:severity} msg='%{QUOTEBODY:msg}'$",
        "sink_errors",
        enum_field="severity",
        enum_map={"1": "debug"},
    )
    m = p.compiled().match("ERROR code=42 severity=3 msg='boom'")
    assert m and m.group("code") == "42" and m.group("msg") == "boom"
    assert p.enum_field == "severity"


def test_unnamed_primitive_is_non_capturing():
    rx = grok_to_regex(r"^x=%{INT} y=%{INT:y}$")
    m = re.match(rx, "x=1 y=2")
    assert m.groupdict() == {"y": "2"}


def test_unknown_primitive_raises():
    with pytest.raises(KeyError, match="NOPE"):
        grok_to_regex("%{NOPE:x}")


def test_custom_primitive_extension():
    rx = grok_to_regex("%{HEX:h}", extra={"HEX": "0x[0-9A-F]+"})
    assert re.match(rx, "0xB888").group("h") == "0xB888"


def test_citation_regex_not_expressible_loses_nothing():
    """The citation pattern keeps its hand-written regex (nested
    optional repetition isn't a grok primitive) — grok and regex
    patterns coexist in one registry, which is the point."""
    reg = by_class_version()
    assert ("citation", 1) in reg
    grok_classes = {(c, v) for c, v, _, _ in GROK_REGISTRY}
    assert set(reg) - grok_classes == {("citation", 1)}


PRIMITIVE_EXAMPLES = {
    # primitive: (full matches, rejects) — the match sets include the
    # logstash-fidelity cases a ported pattern relies on (octet-checked
    # IPs, hour-only tz offsets, leading-dot decimals, trailing-dot
    # FQDNs, %/@/~ path characters)
    "BASE10NUM": (["42", "-3.5", "+7", ".5", "-.25"], ["1.2.3", "abc", "."]),
    "HEXNUM": (["0xDEADbeef", "0x0"], ["DEAD", "0x"]),
    "IPV4": (
        ["127.0.0.1", "10.255.0.42", "255.255.255.255", "0.0.0.0"],
        ["1.2.3", "a.b.c.d", "999.999.999.999", "256.1.1.1"],
    ),
    "MAC": (["aa:bb:cc:00:11:22"], ["aa:bb:cc:00:11", "zz:bb:cc:00:11:22"]),
    "UUID": (["123e4567-e89b-12d3-a456-426614174000"], ["123e4567e89b", ""]),
    "HOSTNAME": (
        ["example.com", "a.b-c.de", "localhost", "fqdn.example.com."],
        ["-x", "", "a..b"],
    ),
    "EMAILADDRESS": (["a.b+c@ex-1.co.uk"], ["a@b", "@x.com"]),
    "UNIXPATH": (
        ["/usr/local/bin", "/a/b/", "/", "/tmp/%cache@host:1,x+y~z"],
        ["usr/local", ""],
    ),
    "QS": (['"hello world"', '""'], ['"unterminated', "bare"]),
    "LOGLEVEL": (["INFO", "WARNING", "CRITICAL"], ["info", "LOG"]),
    "TIMESTAMP_ISO8601": (
        ["2026-08-17T12:00:00", "2026-08-17 12:00:00.123Z",
         "2026-08-17T12:00:00+02:00", "2026-08-17T12:00:00+02"],
        ["2026-08-17", "12:00:00"],
    ),
    "HTTPMETHOD": (["GET", "DELETE"], ["get", "FETCH"]),
}


@pytest.mark.parametrize("prim", sorted(PRIMITIVE_EXAMPLES))
def test_standard_primitive_vocabulary(prim):
    rx = re.compile("^" + grok_to_regex("%{" + prim + ":x}") + "$")
    ok, bad = PRIMITIVE_EXAMPLES[prim]
    for s in ok:
        m = rx.match(s)
        assert m and m.group("x") == s, (prim, s)
    for s in bad:
        assert not rx.match(s), (prim, s)


ACCESS_LOG_GROK = (
    r"^%{IPV4:ip} - %{WORD:user} \[%{TIMESTAMP_ISO8601:when}\] "
    r"%{QS:req} %{INT:status} %{INT:nbytes}$"
)


@pytest.mark.parametrize("engine", ["pandas", "jvm"])
def test_access_log_grok_through_pipeline(spark, engine):
    """An apache-access-log-style grok pattern authored purely from the
    standard primitive vocabulary parses through the real pipeline on
    every extractor engine."""
    import pyspark.sql.functions as F

    from log_parser_project_spark.operators.parse import parse, parse_builtin

    pat = grok_pattern("access", 1, ACCESS_LOG_GROK, "sink_access", prefix="10.")
    rows = [
        ("c", 0, "user",
         '10.0.0.7 - frank [2026-08-17T12:00:00Z] "GET /index.html" 200 1234', None),
        ("c", 1, "user", "not an access line", None),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string"
    ).withColumn("ts", F.current_timestamp())
    patterns = (pat,)
    parsed = (
        parse_builtin(df, patterns=patterns)
        if engine == "jvm"
        else parse(df, patterns=patterns)
    )
    got = {r.turn_idx: r for r in parsed.collect()}
    ex = got[0].extracted
    assert got[0].matched
    assert ex["ip"] == "10.0.0.7" and ex["user"] == "frank"
    assert ex["when"] == "2026-08-17T12:00:00Z"
    assert ex["req"] == '"GET /index.html"'
    assert ex["status"] == "200" and ex["nbytes"] == "1234"
    assert not got[1].matched
