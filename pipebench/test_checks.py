"""The benchmark's own tests: the generator's ledger is right, and every
ledger check rejects a wrong output.

    python3 -m pytest pipebench -q

No Spark session is started: the checks work on plain values, so each
is fed a correct output and then a perturbed one (an aggregate off by
one, a dropped row, a wrong query count, ...).
"""

from __future__ import annotations

import os
import re
import sys
from collections import Counter

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import gen  # noqa: E402
from log_parser_project_spark.registry import PATTERNS, registry_from_json  # noqa: E402

_VERSION = re.compile(r"(?<![A-Za-z0-9_])v=([0-9]+)(?![A-Za-z0-9_])")


def _route_by_python_re(text: str, patterns) -> tuple[str, dict, int]:
    """What a registry does to one text, with Python ``re``: prefix
    dispatch, ``v=N`` version marker, full-pattern match, repeat count."""
    cls = next((p.pattern_class for p in patterns if p.prefix and text.startswith(p.prefix)), None)
    if cls is None:
        return gen.UNMATCHED, {}, 0
    m = _VERSION.search(text)
    ver = int(m.group(1)) if m else 1
    for p in patterns:
        if (p.pattern_class, p.version) == (cls, ver):
            hit = re.search(p.regex, text)
            if hit:
                rep = len(re.findall(p.repeat_group, text)) if p.repeat_group else 0
                return p.route, {k: v for k, v in hit.groupdict().items() if v is not None}, rep
    return gen.UNMATCHED, {}, 0


@pytest.fixture(scope="module")
def short():
    return gen.generate("short", 5, 3000)


@pytest.fixture(scope="module")
def long():
    return gen.generate("long", 5, 600)


@pytest.fixture(scope="module")
def batches():
    return gen.generate_batches(5, 3, 400, span_s=600)


# ---------------------------------------------------------------- ledger
@pytest.mark.parametrize("kind", ["short", "long", "batches"])
def test_ledger_matches_registry_semantics(kind, short, long, batches):
    led = {"short": short, "long": long}.get(kind)
    leds = [led] if led is not None else batches
    patterns = registry_from_json(gen.LONG_REGISTRY) if kind == "long" else PATTERNS
    for led in leds:
        for i, text in enumerate(led.text):
            want = (led.route[i], led.extracted[i], led.repeats[i])
            assert _route_by_python_re(text, patterns) == want, text[:120]


def test_same_seed_same_inputs():
    a, b = gen.generate("long", 9, 200), gen.generate("long", 9, 200)
    assert a.text == b.text and a.ts == b.ts and a.route == b.route
    assert gen.generate("long", 10, 200).text != a.text


def test_class_mix_and_sizes_do_not_depend_on_seed():
    a, b = gen.generate("long", 1, 800), gen.generate("long", 2, 800)
    assert Counter(a.route) == Counter(b.route)
    assert len(a) == len(b) == 800
    assert abs(a.text_bytes() - b.text_bytes()) < 0.02 * a.text_bytes()


@pytest.mark.parametrize("kind", ["short", "long"])
def test_every_class_has_malformed_rows(kind, short, long):
    led = short if kind == "short" else long
    patterns = PATTERNS if kind == "short" else registry_from_json(gen.LONG_REGISTRY)
    malformed = set()
    for text, route in zip(led.text, led.route):
        p = next((q for q in patterns if q.prefix and text.startswith(q.prefix)), None)
        if p is not None and route == gen.UNMATCHED:
            malformed.add(p.pattern_class)
    assert malformed == {p.pattern_class for p in patterns}


def test_edge_row_opens_every_input(short, long, batches):
    for led, lo in [(short, gen.EPOCH), (long, gen.EPOCH)] + [
        (b, gen.EPOCH + i * 600) for i, b in enumerate(batches)
    ]:
        assert led.ts[0] == lo == min(led.ts)
        assert led.route[0] == "sink_errors" and led.text[0] in gen.EDGE_TEXT.values()


def test_batches_are_time_local(batches):
    for b, led in enumerate(batches):
        lo = gen.EPOCH + b * 600
        assert all(lo <= t < lo + 600 for t in led.ts)
        assert len(led) == 400


# ---------------------------------------------------------------- checks
def _correct_outputs(led):
    exp = checks.expected_aggregates(led)
    return {k: Counter(v) for k, v in exp.items()}


def test_correct_outputs_pass(short):
    assert checks.check_aggregates(short, _correct_outputs(short)) == []
    assert checks.check_repeats(short, checks.expected_repeats(short)) == []


@pytest.mark.parametrize("agg", ["by_route", "by_conv", "by_role", "by_tool", "by_hour"])
def test_perturbed_aggregate_is_rejected(short, agg):
    out = _correct_outputs(short)
    key = next(iter(out[agg]))
    out[agg][key] += 1
    assert checks.check_aggregates(short, out)


@pytest.mark.parametrize("agg", ["by_route", "by_hour"])
def test_missing_or_extra_key_is_rejected(short, agg):
    out = _correct_outputs(short)
    key = next(iter(out[agg]))
    moved = out[agg].pop(key)
    assert checks.check_aggregates(short, out)  # a missing key
    out[agg][key] = moved
    out[agg][("sink_nowhere", key)] = moved
    assert checks.check_aggregates(short, out)  # an extra key


def test_dropped_row_is_rejected(short):
    kept = gen.Ledger()  # the program lost row 0
    for i in range(1, len(short)):
        kept.add(short.conv_id[i], short.turn_idx[i], short.role[i], short.tool[i], short.ts[i],
                 short.text[i], short.route[i], short.extracted[i], short.repeats[i])
    assert checks.check_aggregates(short, _correct_outputs(kept))


def test_wrong_repeat_count_is_rejected(short):
    assert checks.check_repeats(short, checks.expected_repeats(short) - 1)


def _sampled(led, convs):
    return [
        (c, t, r, dict(e))
        for c, t, r, e in zip(led.conv_id, led.turn_idx, led.route, led.extracted)
        if c in set(convs)
    ]


def test_sampled_rows(short):
    convs = checks.sample_convs(short, 5, 10)
    rows = _sampled(short, convs)
    assert checks.check_rows(short, convs, rows) == []

    matched = next(i for i, r in enumerate(rows) if r[3])
    wrong_field = list(rows)
    c, t, r, e = wrong_field[matched]
    k = next(iter(e))
    wrong_field[matched] = (c, t, r, {**e, k: e[k] + "x"})
    assert checks.check_rows(short, convs, wrong_field)

    wrong_route = list(rows)
    wrong_route[matched] = (c, t, gen.UNMATCHED, e)
    assert checks.check_rows(short, convs, wrong_route)

    assert checks.check_rows(short, convs, rows[1:])  # a dropped row
    assert checks.check_rows(short, convs, rows + rows[:1])  # a duplicated row


def test_window_counts_are_inclusive_and_respect_commits(batches):
    idx = checks.WindowIndex(batches)
    led = batches[1]
    i = next(i for i, r in enumerate(led.route) if r == "sink_errors")
    ts = led.ts[i]
    exact = sum(1 for t, r in zip(led.ts, led.route) if t == ts and r == "sink_errors")
    assert idx.count("sink_errors", ts, ts, 2) == exact
    assert idx.count("sink_errors", ts, ts, 1) == 0  # batch 1 not committed yet
    total = sum(Counter(b.route)["sink_errors"] for b in batches)
    assert idx.count("sink_errors", gen.EPOCH, gen.EPOCH + 10 ** 6, 3) == total


def test_wrong_query_count_is_rejected(batches):
    idx = checks.WindowIndex(batches)
    lo, hi = gen.EPOCH + 100, gen.EPOCH + 1000
    n = idx.count("sink_metrics", lo, hi, 2)
    assert checks.check_query(idx, "sink_metrics", lo, hi, 2, n) == []
    assert checks.check_query(idx, "sink_metrics", lo, hi, 2, n + 1)
    assert checks.check_query(idx, "sink_metrics", lo, hi, 2, n - 1)
