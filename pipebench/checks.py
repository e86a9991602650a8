"""Ledger checks: what the program's outputs must equal.

Everything here is plain Python over the generator's ledger and over
values already collected from the program, so each check can be fed a
perturbed output in the tests (test_checks.py) without a JVM. A check
returns a list of problems; an empty list means it passed.
"""

from __future__ import annotations

from collections import Counter

import numpy as np

from gen import Ledger

# report at most this many differing keys per aggregate
_MAX_DIFFS = 5


def expected_aggregates(led: Ledger) -> dict[str, Counter]:
    """The five aggregates ``run_pipeline`` commits as ``agg_*``,
    computed from the ledger."""
    hour = [t - t % 3600 for t in led.ts]
    return {
        "by_route": Counter(led.route),
        "by_conv": Counter(led.conv_id),
        "by_role": Counter(zip(led.route, led.role)),
        "by_tool": Counter((r, t) for r, t in zip(led.route, led.tool) if t is not None),
        "by_hour": Counter(zip(led.route, hour)),
    }


def expected_repeats(led: Ledger) -> int:
    return sum(led.repeats)


def diff_counts(name: str, expected: Counter, actual: Counter) -> list[str]:
    """Problems where two keyed counts disagree (missing, extra or
    different keys)."""
    bad = [k for k in expected.keys() | actual.keys() if expected.get(k, 0) != actual.get(k, 0)]
    return [
        f"{name}[{k!r}]: expected {expected.get(k, 0)}, got {actual.get(k, 0)}"
        for k in sorted(bad, key=repr)[:_MAX_DIFFS]
    ] + ([f"{name}: {len(bad) - _MAX_DIFFS} more keys differ"] if len(bad) > _MAX_DIFFS else [])


def check_aggregates(led: Ledger, actual: dict[str, Counter]) -> list[str]:
    problems = []
    for name, exp in expected_aggregates(led).items():
        if name not in actual:
            problems.append(f"{name}: aggregate missing")
            continue
        problems += diff_counts(name, exp, actual[name])
    return problems


def check_repeats(led: Ledger, n_repeat_rows: int) -> list[str]:
    exp = expected_repeats(led)
    return [] if exp == n_repeat_rows else [
        f"sink_repeat_records: expected {exp} rows, got {n_repeat_rows}"
    ]


def sample_convs(led: Ledger, seed: int, n: int) -> list[str]:
    """A seeded sample of conversation ids whose rows are compared
    field by field."""
    convs = sorted(set(led.conv_id))
    r = np.random.default_rng([seed, 9])
    return sorted(convs[i] for i in r.choice(len(convs), size=min(n, len(convs)), replace=False))


def check_rows(led: Ledger, convs: list[str], actual: list[tuple]) -> list[str]:
    """``actual`` = (conv_id, turn_idx, route, {non-null extracted
    fields}) for every committed row of the sampled conversations."""
    want = set(convs)
    exp = {
        (c, t): (r, e)
        for c, t, r, e in zip(led.conv_id, led.turn_idx, led.route, led.extracted)
        if c in want
    }
    got = {(c, t): (r, e) for c, t, r, e in actual}
    problems = []
    if len(got) != len(actual):
        problems.append(f"sampled rows: {len(actual) - len(got)} duplicate (conv_id, turn_idx)")
    for k in sorted(exp.keys() | got.keys()):
        if exp.get(k) != got.get(k):
            problems.append(f"row {k}: expected {exp.get(k)}, got {got.get(k)}")
            if len(problems) >= _MAX_DIFFS:
                break
    return problems


class WindowIndex:
    """Ledger rows of the committed micro-batches, indexed for exact
    time-window counts per sink."""

    def __init__(self, batches: list[Ledger]):
        self._by_batch = []
        for led in batches:
            ts = np.asarray(led.ts, dtype=np.int64)
            route = np.asarray(led.route, dtype=object)
            self._by_batch.append({s: np.sort(ts[route == s]) for s in set(led.route)})

    def count(self, sink: str, lo: int, hi: int, committed: int) -> int:
        """Rows of ``sink`` with ``lo <= ts <= hi`` among the first
        ``committed`` batches."""
        n = 0
        for per_sink in self._by_batch[:committed]:
            ts = per_sink.get(sink)
            if ts is not None:
                n += int(np.searchsorted(ts, hi, "right") - np.searchsorted(ts, lo, "left"))
        return n


def check_query(index: WindowIndex, sink: str, lo: int, hi: int, committed: int,
                got: int) -> list[str]:
    exp = index.count(sink, lo, hi, committed)
    return [] if exp == got else [
        f"query {sink} [{lo}, {hi}] after {committed} batches: expected {exp}, got {got}"
    ]

