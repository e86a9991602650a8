"""Grok pattern syntax for the registry (the "grok" half of the north
rule's "grok/regex parse").

Grok is the logstash convention: a pattern is ordinary regex plus
``%{PRIMITIVE:field}`` captures resolved from a primitive library.
This module compiles grok specs into exactly the named-group regexes
the registry runs (``registry.Pattern``), so a registry can be
authored either way — the analog of the reference accepting either a
PDF-extracted schema table or a pre-generated metadata JSON
(``metadata_payload_parser.py:19-32``) for the same decode.

Primitives are ASCII-explicit (no ``\\w``/``\\d``/``\\S``) for the
same reason the registry regexes are: Python and Java disagree on
Unicode class tables, and a registry only runs on the compiled-JVM
extractor when it means the same to both (see
``operators/parse.choose_extractor`` and ``_java_rx``).
"""

from __future__ import annotations

import re

from .registry import Pattern

# the primitive library — extend via the `extra` argument, not by
# editing call sites (registry-as-data discipline)
GROK_PRIMITIVES: dict[str, str] = {
    "WORD": "[A-Za-z0-9_]+",
    "INT": "[0-9]+",
    "DIGIT": "[0-9]",
    "NUMBER": "[0-9.]+",
    "NOTSPACE": "[^ ]+",
    "DATA": ".*?",
    "GREEDYDATA": ".*",
    "BRACEBODY": "[^}]*",     # inside {...}
    "QUOTEBODY": "[^']*",     # inside '...'
    # the standard logstash vocabulary, ASCII-explicit renderings that
    # track real logstash semantics (octet-validated IPV4, hour-only tz
    # offsets, leading-dot decimals, trailing-dot FQDNs, 63-char DNS
    # labels) WITHOUT the lookbehind/atomic-group constructs logstash's
    # Oniguruma allows — those would keep a registry off the JVM extractor.
    # Internally NON-capturing so a %{PRIM:field} wrap stays one group.
    "BASE10NUM": "[+-]?(?:[0-9]+(?:\\.[0-9]+)?|\\.[0-9]+)",
    "HEXNUM": "0x[0-9a-fA-F]+",
    "IPV4": (
        "(?:(?:25[0-5]|2[0-4][0-9]|[01]?[0-9]{1,2})\\.){3}"
        "(?:25[0-5]|2[0-4][0-9]|[01]?[0-9]{1,2})"
    ),
    "MAC": "(?:[0-9a-fA-F]{2}:){5}[0-9a-fA-F]{2}",
    "UUID": "[0-9a-fA-F]{8}-(?:[0-9a-fA-F]{4}-){3}[0-9a-fA-F]{12}",
    "HOSTNAME": (
        "(?:[A-Za-z0-9][A-Za-z0-9-]{0,62}\\.)*"
        "[A-Za-z0-9][A-Za-z0-9-]{0,62}\\.?"
    ),
    "EMAILADDRESS": "[A-Za-z0-9_.+-]+@[A-Za-z0-9-]+(?:\\.[A-Za-z0-9-]+)+",
    "UNIXPATH": "(?:/[A-Za-z0-9_%!$@:.,+~-]*)+",
    "QS": '"[^"]*"',          # quoted string, quotes included
    "QUOTEDSTRING": '"[^"]*"',
    "LOGLEVEL": "(?:TRACE|DEBUG|INFO|NOTICE|WARN(?:ING)?|ERROR|CRIT(?:ICAL)?|FATAL|SEVERE)",
    "TIMESTAMP_ISO8601": (
        "[0-9]{4}-[0-9]{2}-[0-9]{2}[T ][0-9]{2}:[0-9]{2}:[0-9]{2}"
        "(?:\\.[0-9]+)?(?:Z|[+-][0-9]{2}(?::?[0-9]{2})?)?"
    ),
    "HTTPMETHOD": "(?:GET|POST|PUT|DELETE|HEAD|OPTIONS|PATCH|TRACE|CONNECT)",
}

_GROK_REF = re.compile(r"%\{([A-Z][A-Z0-9_]*)(?::([A-Za-z_][A-Za-z0-9_]*))?\}")


def grok_to_regex(grok: str, extra: dict[str, str] | None = None) -> str:
    """Compile a grok spec to a named-group regex.

    ``%{PRIM:field}`` → ``(?P<field>...)``; ``%{PRIM}`` → ``(?:...)``.
    Text outside ``%{}`` passes through as regex (grok semantics).
    Unknown primitives raise — a silent passthrough would decode
    nothing, the failure mode the reference guards with
    ``LogcodeNotFoundError`` (``decoder/payload_decoder.py:49-57``).
    """
    prims = {**GROK_PRIMITIVES, **(extra or {})}

    def sub(m: re.Match) -> str:
        prim, field = m.group(1), m.group(2)
        if prim not in prims:
            raise KeyError(f"unknown grok primitive %{{{prim}}}")
        body = prims[prim]
        return f"(?P<{field}>{body})" if field else f"(?:{body})"

    return _GROK_REF.sub(sub, grok)


def grok_fields(grok: str) -> tuple[str, ...]:
    """The named captures of a grok spec, in order of appearance."""
    return tuple(m.group(2) for m in _GROK_REF.finditer(grok) if m.group(2))


def grok_pattern(
    pattern_class: str,
    version: int,
    grok: str,
    route: str,
    extra: dict[str, str] | None = None,
    **kwargs,
) -> Pattern:
    """Build a registry ``Pattern`` from a grok spec — drop-in
    alongside hand-written regex patterns."""
    return Pattern(
        pattern_class=pattern_class,
        version=version,
        regex=grok_to_regex(grok, extra),
        groups=grok_fields(grok),
        route=route,
        **kwargs,
    )


# the deployed registry, re-authored as grok — asserted identical
# (string-equal regex, equal groups) to registry.PATTERNS in
# tests/test_grok.py; kept here as the canonical grok rendering
GROK_REGISTRY: tuple[tuple[str, int, str, str], ...] = (
    ("tool_call", 1, r"^CALL %{WORD:tool_name} args=\{%{BRACEBODY:args}\}$",
     "sink_tool_calls"),
    ("error", 1,
     r"^ERROR code=%{INT:code} severity=%{DIGIT:severity} msg='%{QUOTEBODY:msg}'$",
     "sink_errors"),
    ("metric", 1, r"^latency_ms=%{NUMBER:latency_ms} tokens=%{INT:tokens}$",
     "sink_metrics"),
    ("handoff", 1, r"^HANDOFF to=%{WORD:to_role} reason=%{WORD:reason}$",
     "sink_handoffs"),
    ("handoff", 2,
     r"^HANDOFF v=2 to=%{WORD:to_role} reason=%{WORD:reason} priority=%{DIGIT:priority}$",
     "sink_handoffs"),
)
