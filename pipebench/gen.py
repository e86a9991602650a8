"""Seeded transcript inputs and their ground-truth ledger.

The program under test only ever sees the parquet files written by
:func:`write_parquet`. The :class:`Ledger` records what every row should
become — route, role, tool, hour bucket, extracted fields and repeat
count — from how the row was *built*, never by running the program's
regexes. Every class also gets deliberately malformed rows (prefix
present, body broken, or an unknown layout version), which must land
in ``sink_unmatched``. Every input, and every micro-batch, starts with
the same fixed edge row (:data:`EDGE_TEXT`) at its first second.

Three shapes:

* ``short`` — fixture-shaped turns (``CALL``/``ERROR``/``see``/
  ``latency_ms=``/``HANDOFF`` templates, ~35 bytes each) for the
  shipped registry;
* ``long`` — agent-transcript turns (about ten kilobytes of prose, tool
  output and tracebacks) for :data:`LONG_REGISTRY`, written with Python-``re``
  shorthand classes as user registries are;
* ``batches`` — short turns grouped into consecutive, time-local
  micro-batches.

Pure Python + numpy + pyarrow: no Spark, so the ledger is independent
of the engine and the benchmark's tests run without a JVM.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass, field

import math
import random
import statistics

import numpy as np

EPOCH = int(dt.datetime(2026, 3, 1, tzinfo=dt.timezone.utc).timestamp())
ROLES = ("user", "assistant", "system", "tool")
TOOLS = ("search", "bash", "editor", "browser", "sql")
WORDS = (
    "timeout", "retry", "overload", "parse", "network", "disk", "auth",
    "quota", "schema", "upstream", "cache", "panic",
)
UNMATCHED = "sink_unmatched"
# share of each class's rows that are built malformed
MALFORMED_SHARE = 0.04

# The long-turn registry: the shape a user writes, with Python-re
# shorthand (\d, \w, \s). Those classes make extractor="auto" choose
# the pandas (Python re) UDF, since they are not engine-portable.
LONG_REGISTRY = [
    {
        "pattern_class": "tool_call", "version": 1, "prefix": "CALL ",
        "regex": r"^CALL (?P<tool_name>\w+) args=\{(?P<args>[^}]*)\}$",
        "groups": ["tool_name", "args"], "route": "sink_tool_calls",
        "repeat_group": r"(\w+)=(\d+)", "repeat_fields": ["arg_key", "arg_val"],
    },
    {
        "pattern_class": "tool_output", "version": 1, "prefix": "OUTPUT ",
        "regex": r"^OUTPUT (?P<cmd>\w+) exit=(?P<exit_code>\d+) lines=(?P<lines>\d+)\n[\s\S]*$",
        "groups": ["cmd", "exit_code", "lines"], "route": "sink_tool_outputs",
    },
    {
        "pattern_class": "error", "version": 1, "prefix": "Traceback ",
        "regex": r"^Traceback \(most recent call last\):\n(?:  .*\n)+(?P<exc_type>\w+Error): (?P<exc_msg>.*)$",
        "groups": ["exc_type", "exc_msg"], "route": "sink_errors",
    },
    {
        "pattern_class": "citation", "version": 1, "prefix": "see [",
        "regex": r"^see (?P<cites>\[doc-\d+#\d+\](?:\s+and\s+\[doc-\d+#\d+\])*)$",
        "groups": ["cites"], "route": "sink_citations",
        "repeat_group": r"\[doc-(\d+)#(\d+)\]", "repeat_fields": ["doc", "page"],
    },
    {
        "pattern_class": "metric", "version": 1, "prefix": "latency_ms=",
        "regex": r"^latency_ms=(?P<latency_ms>\d+\.\d+)\s+tokens=(?P<tokens>\d+)$",
        "groups": ["latency_ms", "tokens"], "route": "sink_metrics",
    },
]

SHORT_SINKS = (
    "sink_tool_calls", "sink_errors", "sink_citations", "sink_metrics",
    "sink_handoffs", UNMATCHED,
)
LONG_SINKS = (
    "sink_tool_calls", "sink_tool_outputs", "sink_errors", "sink_citations",
    "sink_metrics", UNMATCHED,
)

# (template, weight) — the short mix follows the fixture's template mix
SHORT_MIX = (
    ("tool_call", 18), ("error", 18), ("citation", 16), ("metric", 18),
    ("handoff_v1", 10), ("handoff_v2", 10), ("prose", 10),
)
LONG_MIX = (
    ("prose", 44), ("tool_output", 30), ("error", 8), ("tool_call", 9),
    ("citation", 4), ("metric", 5),
)


@dataclass
class Ledger:
    """Per-row ground truth, column-wise. ``ts`` is epoch seconds (UTC);
    ``extracted`` holds the non-null extracted fields of the row (empty
    for every row that must route to ``sink_unmatched``)."""

    conv_id: list = field(default_factory=list)
    turn_idx: list = field(default_factory=list)
    role: list = field(default_factory=list)
    tool: list = field(default_factory=list)
    ts: list = field(default_factory=list)
    text: list = field(default_factory=list)
    route: list = field(default_factory=list)
    extracted: list = field(default_factory=list)
    repeats: list = field(default_factory=list)
    batch: list = field(default_factory=list)

    def __len__(self) -> int:
        return len(self.conv_id)

    def add(self, conv_id, turn_idx, role, tool, ts, text, route, extracted, repeats, batch=0):
        self.conv_id.append(conv_id)
        self.turn_idx.append(turn_idx)
        self.role.append(role)
        self.tool.append(tool)
        self.ts.append(ts)
        self.text.append(text)
        self.route.append(route)
        self.extracted.append(extracted)
        self.repeats.append(repeats)
        self.batch.append(batch)

    def text_bytes(self) -> int:
        return sum(len(t.encode()) for t in self.text)


# ---------------------------------------------------------------- texts
def _short_text(tpl: str, bad: bool, r: random.Random, tool: str):
    """One fixture-shaped turn: (text, route, extracted, repeats)."""
    w = lambda: WORDS[r.randrange(len(WORDS))]  # noqa: E731
    if tpl == "tool_call":
        pairs = ",".join(f"k{i}={r.randrange(1000)}" for i in range(1, r.randrange(1, 5) + 1))
        if bad:  # unterminated argument list
            return f"CALL {tool} args={{{pairs}", UNMATCHED, {}, 0
        n = pairs.count("=")
        return (f"CALL {tool} args={{{pairs}}}", "sink_tool_calls",
                {"tool_name": tool, "args": pairs}, n)
    if tpl == "error":
        code, sev, msg = str(r.randrange(600)), str(r.randrange(1, 6)), f"{w()} {w()}"
        if bad:  # two-digit severity
            return f"ERROR code={code} severity={sev}{sev} msg='{msg}'", UNMATCHED, {}, 0
        return (f"ERROR code={code} severity={sev} msg='{msg}'", "sink_errors",
                {"code": code, "severity": sev, "msg": msg}, 0)
    if tpl == "citation":
        n = r.randrange(1, 4)
        cites = " and ".join(f"[doc-{r.randrange(10000)}#{r.randrange(500)}]" for _ in range(n))
        if bad:  # a citation with no doc id
            return f"see {cites} and [doc-#{r.randrange(500)}]", UNMATCHED, {}, 0
        return f"see {cites}", "sink_citations", {"cites": cites}, n
    if tpl == "metric":
        lat, tok = f"{r.randrange(100000) / 100:.2f}", str(r.randrange(1, 4001))
        if bad:  # empty token count
            return f"latency_ms={lat} tokens=", UNMATCHED, {}, 0
        return (f"latency_ms={lat} tokens={tok}", "sink_metrics",
                {"latency_ms": lat, "tokens": tok}, 0)
    if tpl == "handoff_v1":
        to, why = ROLES[r.randrange(4)], w()
        if bad:  # trailing punctuation after the reason
            return f"HANDOFF to={to} reason={why}!", UNMATCHED, {}, 0
        return f"HANDOFF to={to} reason={why}", "sink_handoffs", {"to_role": to, "reason": why}, 0
    if tpl == "handoff_v2":
        to, why, pri = ROLES[r.randrange(4)], w(), str(r.randrange(1, 10))
        if bad:  # a layout version the registry does not define
            return f"HANDOFF v=3 to={to} reason={why} priority={pri}", UNMATCHED, {}, 0
        return (f"HANDOFF v=2 to={to} reason={why} priority={pri}", "sink_handoffs",
                {"to_role": to, "reason": why, "priority": pri}, 0)
    return " ".join(w() for _ in range(5)), UNMATCHED, {}, 0


class _Blob:
    """A seeded block of prose-like text; long bodies are slices of it.
    It holds no '=' (so no accidental ``v=N`` version marker) and no
    line that starts with a class prefix."""

    def __init__(self, r: random.Random, size: int = 1 << 20):
        letters = "abcdefghijklmnopqrstuvwxyz"
        vocab = ["".join(r.choices(letters, k=r.randrange(2, 10))) for _ in range(3000)]
        vocab += ["the", "a", "of", "to", "and", "in", "is", "it", "for", "on"] * 60
        vocab += ["foo()", "x[i]", "{}", "->", "0x1f", "404", "ok", "TODO:", "#", "'s'"]
        n = size // 6
        words = r.choices(vocab, k=n)
        seps = r.choices(" \n", weights=(92, 8), k=n)
        self.text = "".join(w + s for w, s in zip(words, seps))

    def take(self, r: random.Random, n: int) -> str:
        off = r.randrange(0, len(self.text) - n - 1)
        return self.text[off:off + n].strip() or "ok"


_NORMAL = statistics.NormalDist()


def _long_len(q: float, median: float, lo: int, hi: int) -> int:
    """Text length at quantile ``q`` of a log-normal (sigma 0.8) with
    the given median, clamped to [lo, hi]."""
    return int(min(hi, max(lo, median * math.exp(0.8 * _NORMAL.inv_cdf(q)))))


def _long_text(tpl: str, bad: bool, q: float, r: random.Random, tool: str, blob: _Blob):
    """One agent-transcript turn: (text, route, extracted, repeats)."""
    if tpl == "tool_output":
        cmd, code = tool, str(r.randrange(0, 3))
        body = blob.take(r, _long_len(q, 10000, 400, 120000))
        lines = str(body.count("\n") + 1)
        if bad:  # non-numeric exit status
            return f"OUTPUT {cmd} exit=x{code} lines={lines}\n{body}", UNMATCHED, {}, 0
        return (f"OUTPUT {cmd} exit={code} lines={lines}\n{body}", "sink_tool_outputs",
                {"cmd": cmd, "exit_code": code, "lines": lines}, 0)
    if tpl == "error":
        frames = []
        for _ in range(2 + int(q * 14)):
            mod = blob.take(r, 8).split()[0]
            frames.append(f'  File "/srv/app/{mod}.py", line {r.randrange(1, 900)}, in run')
            frames.append("    " + blob.take(r, 40).replace("\n", " "))
        exc = ("ValueError", "KeyError", "TimeoutError", "RuntimeError")[r.randrange(4)]
        msg = blob.take(r, 60).replace("\n", " ")
        head = "Traceback (most recent call last):\n" + "\n".join(frames)
        if bad:  # traceback cut off before the exception line
            return head, UNMATCHED, {}, 0
        return f"{head}\n{exc}: {msg}", "sink_errors", {"exc_type": exc, "exc_msg": msg}, 0
    if tpl == "prose":
        return "I " + blob.take(r, _long_len(q, 6000, 300, 80000)), UNMATCHED, {}, 0
    # the short classes keep their fixture shape, with wider payloads
    if tpl == "tool_call":
        pairs = ",".join(f"k{i}={r.randrange(100000)}" for i in range(1, 2 + int(q * 8)))
        if bad:
            return f"CALL {tool} args={{{pairs}", UNMATCHED, {}, 0
        return (f"CALL {tool} args={{{pairs}}}", "sink_tool_calls",
                {"tool_name": tool, "args": pairs}, pairs.count("="))
    return _short_text(tpl, bad, r, tool)


# ------------------------------------------------------------ generators
# The edge row: one fixed sink_errors turn at the first second of every
# input (backfill) or micro-batch, the same for every seed. Its ts is
# the smallest ts of the staging file it lands in, so a query whose
# upper bound is that second tests the boundary of manifest pruning.
EDGE_TEXT = {
    "short": "ERROR code=500 severity=3 msg='edge row'",
    "long": ('Traceback (most recent call last):\n  File "/srv/app/edge.py", line 1, in run\n'
             "    run()\nRuntimeError: edge row"),
}
EDGE_FIELDS = {
    "short": {"code": "500", "severity": "3", "msg": "edge row"},
    "long": {"exc_type": "RuntimeError", "exc_msg": "edge row"},
}


def _edge_row(led: "Ledger", kind: str, conv_id: str, ts: int, batch: int = 0) -> None:
    led.add(conv_id, 0, "system", None, ts, EDGE_TEXT[kind], "sink_errors",
            dict(EDGE_FIELDS[kind]), 0, batch)


def _turn_count(r: random.Random) -> int:
    """Geometric with p=0.15 clamped to [1, 64] (the fixture's shape)."""
    return min(64, 1 + int(math.log(1.0 - r.random()) / math.log(0.85)))


def _role_tool(r: random.Random, t: int, tpl: str) -> tuple[str, str | None, str]:
    """(role, tool column, tool named in the text)."""
    u = r.randrange(100)
    role = (
        "user" if t == 0 else "system" if u < 10 else "tool" if u < 30
        else "assistant" if u < 65 else "user"
    )
    pick = TOOLS[r.randrange(len(TOOLS))]
    tool = pick if (role == "tool" or tpl == "tool_call") else None
    return role, tool, pick


def _plan(r: random.Random, mix, n: int) -> list[tuple[str, bool, float]]:
    """``n`` rows as (template, malformed, size quantile), in seeded
    order. The counts per template, the malformed count per class and
    the multiset of size quantiles are the same for every seed, so every
    seed gives the same class mix and text-length distribution."""
    total = sum(w for _, w in mix)
    counts = [n * w // total for _, w in mix]
    for i in range(n - sum(counts)):
        counts[i % len(mix)] += 1
    rows = []
    for (tpl, _w), c in zip(mix, counts):
        n_bad = 0 if tpl == "prose" else round(c * MALFORMED_SHARE)
        qs = [(j + 0.5) / c for j in range(c)]
        r.shuffle(qs)
        rows += [(tpl, j < n_bad, qs[j]) for j in range(c)]
    r.shuffle(rows)
    return rows


def generate(kind: str, seed: int, n_turns: int, span_s: int = 3 * 86400) -> Ledger:
    """Exactly ``n_turns`` turns of ``kind`` ('short' or 'long'): the
    edge row at :data:`EPOCH`, then conversations that start uniformly
    over ``span_s`` seconds after :data:`EPOCH`."""
    r = random.Random(f"{seed}/{kind}")
    blob = _Blob(r) if kind == "long" else None
    gap = 7 if kind == "short" else 20
    plan = _plan(r, SHORT_MIX if kind == "short" else LONG_MIX, n_turns - 1)
    led = Ledger()
    _edge_row(led, kind, "conv-edge", EPOCH)
    conv = 0
    while len(led) < n_turns:
        n = min(_turn_count(r), n_turns - len(led))
        start = EPOCH + r.randrange(span_s)
        _conv(led, r, f"conv-{seed % 100000:05d}-{conv:07d}", plan[len(led) - 1:len(led) - 1 + n],
              start, gap, kind, blob)
        conv += 1
    return led


def _conv(led: Ledger, r, conv_id: str, plan, start: int, gap: int, kind: str,
          blob, batch: int = 0) -> None:
    for t, (tpl, bad, q) in enumerate(plan):
        role, tool, pick = _role_tool(r, t, tpl)
        if kind == "long":
            # long turns: outputs come from tools, prose from the model
            if tpl == "tool_output" or (tpl == "error" and t > 0):
                role, tool = "tool", pick
            elif tpl == "prose" and t > 0:
                role, tool = "assistant", None
        text, route, extracted, repeats = (
            _short_text(tpl, bad, r, pick) if kind == "short"
            else _long_text(tpl, bad, q, r, pick, blob)
        )
        led.add(conv_id, t, role, tool, start + gap * t, text, route, extracted, repeats, batch)


def generate_batches(seed: int, n_batches: int, turns_per_batch: int,
                     span_s: int = 600) -> list[Ledger]:
    """Consecutive micro-batches of exactly ``turns_per_batch`` short
    turns: batch ``b`` holds the edge row at its first second, then whole
    conversations whose every turn falls in
    ``[EPOCH + b*span_s, EPOCH + (b+1)*span_s)``."""
    out = []
    for b in range(n_batches):
        r = random.Random(f"{seed}/batch/{b}")
        plan = _plan(r, SHORT_MIX, turns_per_batch - 1)
        led = Ledger()
        lo = EPOCH + b * span_s
        _edge_row(led, "short", f"conv-edge-{b:05d}", lo, batch=b)
        conv = 0
        while len(led) < turns_per_batch:
            n = min(_turn_count(r), span_s // 7, turns_per_batch - len(led))
            start = lo + r.randrange(span_s - 7 * (n - 1))
            _conv(led, r, f"conv-b{b:05d}-{conv:05d}", plan[len(led) - 1:len(led) - 1 + n],
                  start, 7, "short", None, batch=b)
            conv += 1
        out.append(led)
    return out


# ------------------------------------------------------------------ I/O
def write_parquet(led: Ledger, path: str, n_files: int) -> int:
    """Write the program's input: ``n_files`` parquet files under
    ``path`` with the transcripts schema. Returns the bytes written."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([
        ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
        ("text", pa.string()), ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ])
    os.makedirs(path, exist_ok=True)
    n = len(led)
    ts_us = np.asarray(led.ts, dtype=np.int64) * 1_000_000
    total = 0
    bounds = np.linspace(0, n, n_files + 1).astype(int)
    for i in range(n_files):
        lo, hi = bounds[i], bounds[i + 1]
        table = pa.table(
            [
                pa.array(led.conv_id[lo:hi], pa.string()),
                pa.array(led.turn_idx[lo:hi], pa.int32()),
                pa.array(led.role[lo:hi], pa.string()),
                pa.array(led.text[lo:hi], pa.string()),
                pa.array(led.tool[lo:hi], pa.string()),
                pa.array(ts_us[lo:hi], pa.timestamp("us", tz="UTC")),
            ],
            schema=schema,
        )
        f = os.path.join(path, f"part-{i:05d}.parquet")
        pq.write_table(table, f)
        total += os.path.getsize(f)
    return total


def write_ledger(leds: list[Ledger], path: str) -> None:
    """The ledger as parquet (one row per input turn, text left out),
    for inspection."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    def col(name):
        return [v for led in leds for v in getattr(led, name)]

    ts = col("ts")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table({
        "conv_id": col("conv_id"), "turn_idx": col("turn_idx"), "role": col("role"),
        "tool": col("tool"), "ts": ts, "hour": [t - t % 3600 for t in ts],
        "route": col("route"), "repeats": col("repeats"),
        "extracted": [json.dumps(e, sort_keys=True) for e in col("extracted")],
        "batch": col("batch"),
    }), path)
