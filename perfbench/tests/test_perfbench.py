"""Tests of the benchmark's own logic (no Spark needed):

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import re
import sys
from collections import Counter

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import stats  # noqa: E402
from probe import Tracer  # noqa: E402
from run import run_unit  # noqa: E402
from workloads import OpResult, check_counts  # noqa: E402


def brute_force_counts(table, servers: set[str]) -> Counter:
    """Row-by-row route decision from the text itself: the flagship's
    grok pattern, equi server lookup and tool lookup."""
    ip_re = re.compile(r"from_ip=((?:\d{1,3}\.){3}\d{1,3})")
    tools = {t for t, *_ in gen.TOOL_CATALOG_ROWS}
    out: Counter = Counter()
    for text, role, tool in zip(*(table.column(c).to_pylist() for c in ("text", "role", "tool"))):
        m = ip_re.search(text)
        if m is None:
            route = gen.ROUTE_MALFORMED
        elif m.group(1) not in servers or tool not in tools:
            route = gen.ROUTE_MISS
        else:
            route = gen.ROUTE_HIT
        out[(route, role, tool)] += 1
    return out


@pytest.mark.parametrize("seed,n_servers", [(1, 256), (2, 5000)])
def test_expected_counts_match_brute_force(seed, n_servers):
    table = gen.transcripts_table(np.random.default_rng(seed), 3000, n_servers)
    servers = set(gen.server_ips(n_servers).to_pylist())
    assert gen.expected_counts(table) == dict(brute_force_counts(table, servers))


def test_generator_is_seeded():
    a = gen.transcripts_table(np.random.default_rng(7), 500, 256)
    b = gen.transcripts_table(np.random.default_rng(7), 500, 256)
    c = gen.transcripts_table(np.random.default_rng(8), 500, 256)
    assert a.equals(b)
    assert not a.equals(c)


def test_traffic_dimensions():
    table = gen.transcripts_table(np.random.default_rng(3), 20_000, 5000)
    routes = table.column("_route").to_pylist()
    assert abs(routes.count("malformed") / len(routes) - gen.MALFORMED_P) < 0.01
    lengths = np.array([len(t) for t in table.column("text").to_pylist()])
    assert 200 < np.median(lengths) < 400
    assert lengths.max() > 10 * np.median(lengths)  # heavy tail
    text = table.column("text").to_pylist()
    offsets = [t.index("from_ip=") for t in text]
    assert len(set(offsets)) > 100  # token at a random offset


def test_generate_splits_expected_counts_per_file(tmp_path):
    ds = gen.generate(str(tmp_path / "d"), 5, gen.Params(n_turns=1000, n_servers=64, n_files=4))
    assert len(ds.file_paths()) == 4
    total = ds.expected()
    assert sum(total.values()) == 1000
    halves = [ds.expected([0, 1]), ds.expected([2, 3])]
    merged = {k: halves[0].get(k, 0) + halves[1].get(k, 0) for k in total}
    assert merged == total


@pytest.mark.parametrize("n,p", [(0, None), (19, None), (20, 50.0), (99, 50.0),
                                 (100, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9)])
def test_reportable_percentile_keeps_ten_samples_beyond(n, p):
    assert stats.reportable_percentile(n) == p


def test_timing_summary():
    assert stats.timing_summary([3.0, 1.0, 2.0]) == {"p50": 2.0, "n": 3}
    s = stats.timing_summary([float(i) for i in range(1, 101)])
    assert s == {"p50": 50.5, "n": 100, "p90": 90.0}


class _Fake:
    name = "fake"

    def __init__(self, outcome, ops_per_unit=1):
        self.outcome = outcome
        self.ops_per_unit = ops_per_unit

    def op(self, b, warm=False):
        if self.outcome == "raise":
            raise RuntimeError("boom")
        got = {("hit", "user", "tool_0"): 5 if self.outcome == "ok" else 4}
        return OpResult(turns=5, check=lambda: [check_counts({("hit", "user", "tool_0"): 5}, got)])


class _B:
    def __init__(self):
        self.tally = stats.Tally()
        self.tracer = Tracer()
        self.warm_failed = []


def test_error_rate_counts_a_mismatch_as_failed():
    b = _B()
    run_unit(b, _Fake("ok"), timed=True)
    run_unit(b, _Fake("mismatch"), timed=True)
    assert (b.tally.attempted, b.tally.failed) == (2, 1)
    assert b.tally.error_rate == 0.5
    assert not b.tally.correct
    assert "expected 5 got 4" in b.tally.errors[0]


def test_error_rate_counts_every_operation_of_a_raising_unit():
    b = _B()
    run_unit(b, _Fake("raise", ops_per_unit=4), timed=True)
    assert (b.tally.attempted, b.tally.failed) == (4, 4)


def test_warmup_failures_are_kept_apart():
    b = _B()
    run_unit(b, _Fake("mismatch"), timed=False)
    assert b.tally.attempted == 0
    assert b.warm_failed
