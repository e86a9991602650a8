"""The pattern registry — the schema-table-as-data analog.

The reference drives its decoder from *field-layout tables extracted
into data* (``hex_decoder_module/models/icd.py:40-51``:
``LogcodeMetadata{version_map, table_definitions, dependencies}``).
This engine's equivalent is a registry of versioned, compiled regex
patterns with named capture groups:

* ``pattern_class``  ≙ logcode (the routing key from the header,
  ``decoder/header_decoder.py:21-60``)
* ``version`` + in-text marker ≙ payload version resolution
  (``decoder/version_resolver.py:13-56`` — the version is read out of
  the payload itself; here the marker ``v=2`` inside ``text`` selects
  the v2 layout)
* named groups ≙ ``FieldDefinition`` rows (``models/icd.py:27-37``)
* ``repeat_group`` regex ≙ repeating-record decode
  (``decoder/payload_decoder.py:133-209``) → array explode
* ``enum_map`` ≙ enum mappings (``icd_parser/table_parser.py:240-266``)
* ``route`` ≙ which sink the decoded record lands in

The registry is built deterministically in code on the driver (the
analog of the "1000× faster" pre-generated metadata JSON path,
``metadata_payload_parser.py``), broadcast to executors, and also
materialized as a ``dim_patterns`` table for enrich joins and
introspection queries.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class Pattern:
    pattern_class: str
    version: int
    regex: str
    groups: tuple[str, ...]
    route: str
    repeat_group: str | None = None  # regex applied with findall → explode
    repeat_fields: tuple[str, ...] = ()
    enum_map: dict[str, str] = field(default_factory=dict)
    enum_field: str | None = None
    # classify key: rows whose text starts with this land in this class
    # (the header-decode dispatch is registry DATA, not code — a new
    # pattern class needs no plan or code change)
    prefix: str | None = None

    def compiled(self) -> re.Pattern:
        return re.compile(self.regex)


def class_prefixes(patterns: tuple["Pattern", ...]) -> list[tuple[str, str]]:
    """(prefix, pattern_class) dispatch pairs in registry order, one per
    class (versions of a class share the prefix)."""
    seen: dict[str, str] = {}
    for p in patterns:
        if p.prefix and p.pattern_class not in seen:
            seen[p.pattern_class] = p.prefix
    return [(pre, cls) for cls, pre in seen.items()]


# --------------------------------------------------------------------------
# The five pattern classes of FIXTURES.md §3. handoff has two versions —
# the v2 layout is selected per-row by the "v=2" marker in the text.
# --------------------------------------------------------------------------
PATTERNS: tuple[Pattern, ...] = (
    Pattern(
        pattern_class="tool_call",
        version=1,
        regex=r"^CALL (?P<tool_name>[A-Za-z0-9_]+) args=\{(?P<args>[^}]*)\}$",
        groups=("tool_name", "args"),
        route="sink_tool_calls",
        prefix="CALL ",
        repeat_group=r"([A-Za-z0-9_]+)=([0-9]+)",
        repeat_fields=("arg_key", "arg_val"),
    ),
    Pattern(
        pattern_class="error",
        version=1,
        regex=r"^ERROR code=(?P<code>[0-9]+) severity=(?P<severity>[0-9]) msg='(?P<msg>[^']*)'$",
        groups=("code", "severity", "msg"),
        route="sink_errors",
        prefix="ERROR ",
        enum_field="severity",
        enum_map={"1": "debug", "2": "info", "3": "warn", "4": "error", "5": "fatal"},
    ),
    Pattern(
        pattern_class="citation",
        version=1,
        regex=r"^see (?P<cites>\[doc-[0-9]+#[0-9]+\](?: and \[doc-[0-9]+#[0-9]+\])*)$",
        groups=("cites",),
        route="sink_citations",
        prefix="see [",
        repeat_group=r"\[doc-([0-9]+)#([0-9]+)\]",
        repeat_fields=("doc", "page"),
    ),
    Pattern(
        pattern_class="metric",
        version=1,
        regex=r"^latency_ms=(?P<latency_ms>[0-9.]+) tokens=(?P<tokens>[0-9]+)$",
        groups=("latency_ms", "tokens"),
        route="sink_metrics",
        prefix="latency_ms=",
    ),
    Pattern(
        pattern_class="handoff",
        version=1,
        regex=r"^HANDOFF to=(?P<to_role>[A-Za-z0-9_]+) reason=(?P<reason>[A-Za-z0-9_]+)$",
        groups=("to_role", "reason"),
        route="sink_handoffs",
        prefix="HANDOFF ",
    ),
    Pattern(
        pattern_class="handoff",
        version=2,
        regex=r"^HANDOFF v=2 to=(?P<to_role>[A-Za-z0-9_]+) reason=(?P<reason>[A-Za-z0-9_]+) priority=(?P<priority>[0-9])$",
        groups=("to_role", "reason", "priority"),
        route="sink_handoffs",
        prefix="HANDOFF ",
    ),
)

SINKS: tuple[str, ...] = (
    "sink_tool_calls",
    "sink_errors",
    "sink_citations",
    "sink_metrics",
    "sink_handoffs",
    "sink_unmatched",
)

def all_groups(patterns: tuple[Pattern, ...]) -> tuple[str, ...]:
    """The union of capture-group names across a registry — the field
    set of the ``extracted`` struct."""
    return tuple(sorted({g for p in patterns for g in p.groups}))


ALL_GROUPS: tuple[str, ...] = all_groups(PATTERNS)


def by_class_version() -> dict[tuple[str, int], Pattern]:
    return {(p.pattern_class, p.version): p for p in PATTERNS}


# --------------------------------------------------------------------------
# Dimension tables (FIXTURES.md §2) — the enrich analogs of the
# reference's logcode/enum metadata. Tiny and known at plan time, so
# enrich looks them up as literal maps; dim_*_df materialize them as
# tables (jobs/run_pipeline.py writes dim_roles / dim_tools).
# --------------------------------------------------------------------------
DIM_ROLES = [
    ("user", "human", 1),
    ("assistant", "model", 1),
    ("system", "infra", 0),
    ("tool", "infra", 2),
]
DIM_TOOLS = [
    ("search", "retrieval", 1),
    ("bash", "exec", 3),
    ("editor", "exec", 2),
    ("browser", "retrieval", 1),
    ("sql", "query", 2),
]


def dim_roles_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(DIM_ROLES, "role string, role_class string, weight int")


def dim_tools_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(DIM_TOOLS, "tool string, tool_family string, risk_level int")


def dim_patterns_df(
    spark: SparkSession, patterns: tuple[Pattern, ...] | None = None
) -> DataFrame:
    rows = [
        (p.pattern_class, p.version, p.regex, list(p.groups), p.route,
         p.repeat_group, list(p.repeat_fields), p.enum_map or None, p.enum_field,
         p.prefix)
        for p in (patterns if patterns is not None else PATTERNS)
    ]
    return spark.createDataFrame(
        rows,
        "pattern_class string, version int, regex string, groups array<string>, "
        "route string, repeat_group string, repeat_fields array<string>, "
        "enum_map map<string,string>, enum_field string, prefix string",
    )


# --------------------------------------------------------------------------
# JSON round-trip — the text-registry analog of the reference's
# pre-generated metadata JSON (metadata_payload_parser.py:19-32): a
# registry defined in a config file drives the whole pipeline with no
# code change (patterns are injectable everywhere).
# --------------------------------------------------------------------------

def registry_to_json(patterns: tuple[Pattern, ...] = None) -> list[dict]:
    """Serialize a registry to plain JSON-able dicts."""
    from dataclasses import asdict

    out = []
    for p in (patterns if patterns is not None else PATTERNS):
        d = asdict(p)
        d["groups"] = list(p.groups)
        d["repeat_fields"] = list(p.repeat_fields)
        out.append(d)
    return out


def registry_from_json(source) -> tuple[Pattern, ...]:
    """Load a registry from a JSON file path, JSON string, or parsed
    list. Grok-authored entries use ``"grok"`` instead of ``"regex"``
    (compiled via grok.grok_to_regex; ``grok_extra`` supplies custom
    primitives)."""
    import json as _json

    data = source
    if isinstance(source, str):
        # Inline JSON must *look* like JSON ('[' / '{'); anything else
        # is a path, so a typo'd filename raises FileNotFoundError
        # instead of a baffling JSONDecodeError.
        if source.lstrip()[:1] in ("[", "{"):
            data = _json.loads(source)
        else:
            with open(source) as f:
                data = _json.load(f)
    pats = []
    for d in data:
        d = dict(d)
        if "grok" in d and "regex" not in d:
            from .grok import grok_fields, grok_to_regex

            extra = d.pop("grok_extra", None)
            grok = d.pop("grok")
            d["regex"] = grok_to_regex(grok, extra)
            d.setdefault("groups", list(grok_fields(grok)))
        pats.append(
            Pattern(
                pattern_class=d["pattern_class"],
                version=int(d.get("version", 1)),
                regex=d["regex"],
                groups=tuple(d["groups"]),
                route=d["route"],
                repeat_group=d.get("repeat_group"),
                repeat_fields=tuple(d.get("repeat_fields") or ()),
                enum_map=dict(d.get("enum_map") or {}),
                enum_field=d.get("enum_field"),
                prefix=d.get("prefix"),
            )
        )
    return tuple(pats)


def sinks_of(patterns: tuple[Pattern, ...] = None) -> tuple[str, ...]:
    """All sinks a registry routes to, plus the quarantine sink."""
    pats = patterns if patterns is not None else PATTERNS
    seen: list[str] = []
    for p in pats:
        if p.route not in seen:
            seen.append(p.route)
    return tuple(seen) + ("sink_unmatched",)
