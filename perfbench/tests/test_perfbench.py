"""Tests of the benchmark's own logic: the tail-percentile rule, open-loop
timing from the due time, and generator determinism per seed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys
import threading
import time

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import harness  # noqa: E402

# --- percentile rule ---------------------------------------------------------


@pytest.mark.parametrize("n, pct", [(200, 95.0), (1000, 95.0), (100, 90.0), (40, 75.0), (11, 100 / 11)])
def test_tail_percentile_keeps_ten_samples_beyond(n, pct):
    samples = list(range(n))
    got_pct, value, count = harness.tail_percentile(samples)
    assert count == n
    assert got_pct == pytest.approx(pct)
    beyond = sum(1 for s in samples if s > value)
    assert beyond >= 10
    # the highest such percentile: one index higher would leave fewer than 10
    # samples beyond, or pass the 95 % cap
    assert beyond == 10 or got_pct == pytest.approx(95.0)


def test_tail_percentile_is_an_order_statistic_and_order_free():
    rng = np.random.default_rng(0)
    samples = list(rng.exponential(1.0, size=300))
    pct, value, _ = harness.tail_percentile(samples)
    assert value in samples
    assert harness.tail_percentile(sorted(samples, reverse=True)) == (pct, value, 300)
    assert pct == pytest.approx(95.0)


def test_tail_percentile_needs_eleven_samples():
    with pytest.raises(ValueError):
        harness.tail_percentile(list(range(10)))


def test_tail_percentile_counts_units_not_samples():
    # 12 batches of 100 samples each; batch b commits samples b*100 .. b*100+99,
    # so the top 5 % of samples all come from one batch
    samples = list(range(1200))
    groups = [s // 100 for s in samples]
    pct, value, units = harness.tail_percentile(samples, groups)
    assert units == 12
    beyond = {g for s, g in zip(samples, groups) if s > value}
    assert len(beyond) == 10
    # the highest such percentile: one sample higher leaves batch 2 with
    # nothing beyond it
    assert value == 298 and pct == pytest.approx(100 * 299 / 1200)
    # a unit per sample is the ungrouped rule
    assert harness.tail_percentile(samples, range(1200)) == harness.tail_percentile(samples)


def test_tail_percentile_needs_eleven_units():
    samples = list(range(1000))
    with pytest.raises(ValueError):
        harness.tail_percentile(samples, [s % 10 for s in samples])
    # interleaved units: every unit has samples near the top, so the cap holds
    pct, _, units = harness.tail_percentile(samples, [s % 11 for s in samples])
    assert units == 11 and pct == pytest.approx(95.0)


# --- open-loop timing ------------------------------------------------------------


def test_open_loop_times_from_due_and_counts_queue_wait():
    # three operations due together, one client thread, 0.2 s each: a closed
    # loop would report 0.2 s for each; from the due time they wait in line
    ops = harness.run_open_loop([0.0, 0.0, 0.0], lambda i: time.sleep(0.2), threads=1, lead=0.05)
    lat = [op.latency for op in ops]
    assert lat[0] == pytest.approx(0.2, abs=0.08)
    assert lat[1] == pytest.approx(0.4, abs=0.08)
    assert lat[2] == pytest.approx(0.6, abs=0.08)
    assert all(op.start - op.due >= -0.01 for op in ops)


def test_open_loop_releases_on_schedule_while_the_system_stalls():
    # the first operation stalls; later ones are still released on time
    release = threading.Event()

    def fn(i):
        if i == 0:
            release.wait(2.0)

    ops = harness.run_open_loop([0.0, 0.1, 0.2], fn, threads=4, lead=0.05)
    release.set()
    assert [op.late for op in ops] == pytest.approx([0.0, 0.0, 0.0], abs=0.05)
    assert ops[1].end < ops[0].end


def test_open_loop_counts_a_failure_without_stopping():
    def fn(i):
        if i == 1:
            raise RuntimeError("boom")
        return i

    ops = harness.run_open_loop([0.0, 0.0, 0.0], fn, threads=2, lead=0.0)
    assert [op.error is None for op in ops] == [True, False, True]
    assert ops[2].result == 2


# --- generators -------------------------------------------------------------------


def test_history_is_deterministic_per_seed():
    _, a = gen.history(7, 2000)
    _, b = gen.history(7, 2000)
    _, c = gen.history(8, 2000)
    pd.testing.assert_frame_equal(a, b)
    assert not a.equals(c)


def test_history_keys_arrive_in_order_with_growing_counters():
    _, h = gen.history(3, 5000)
    assert h["ts"].is_monotonic_increasing and h["ts"].is_unique
    for _, g in h.groupby("state"):
        for c in ("confirmed", "recovered", "deaths"):
            assert g[c].is_monotonic_increasing


def test_keys_are_zipf_skewed_toward_hot_states():
    ks = gen.keyspace(5)
    assert len(ks.states) == len(gen.STATES)
    assert sum(len(d) for d in ks.districts.values()) == gen.N_DISTRICTS
    _, h = gen.history(5, 20000, ks)
    statewise, _ = gen.split_keys(h)
    counts = statewise["state"].value_counts()
    assert counts[ks.states[0]] > 10 * counts.get(ks.states[-2], 1)


def test_request_schedule_is_deterministic_with_exact_mix():
    ks = gen.keyspace(2)
    a = gen.request_schedule(2, ks, 3.0, 30.0)
    assert len(a) == 90
    assert a == gen.request_schedule(2, ks, 3.0, 30.0)
    assert a != gen.request_schedule(3, ks, 3.0, 30.0)
    kinds = [k for _, k, _ in a]
    want = gen.apportion(len(a), np.asarray(gen.REQUEST_MIX))
    assert [kinds.count(k) for k in gen.REQUEST_KINDS] == list(want)
    # targeted requests follow the Zipf ranks exactly, hottest most often
    targeted = [s for _, k, s in a if k in ("state", "chart")]
    assert targeted.count(ks.states[0]) == max(targeted.count(s) for s in ks.states)
    assert all(0 <= t < 30.0 for t, _, _ in a)
    assert [t for t, _, _ in a] == sorted(t for t, _, _ in a)


def test_apportion_is_exact_and_proportional():
    counts = gen.apportion(25, gen.zipf_weights(39))
    assert counts.sum() == 25
    assert list(counts) == sorted(counts, reverse=True)
    assert list(gen.apportion(10, np.array([0.5, 0.3, 0.2]))) == [5, 3, 2]


def test_live_feed_is_deterministic_per_seed(tmp_path):
    class Args:
        seed, history, rate, tick, seconds = 4, 500, 100.0, 0.1, 1.0
        start = time.time() - 60.0  # every tick already due: no sleeping

    outs = []
    for run in ("a", "b"):
        d = tmp_path / run
        d.mkdir()
        Args.out, Args.report = str(d), str(d / "report.json")
        gen.run_live_feed(Args)
        outs.append(
            {n: pd.read_parquet(d / n) for n in sorted(os.listdir(d)) if n.endswith(".parquet")}
        )
    assert outs[0].keys() == outs[1].keys() and len(outs[0]) > 5
    for name in outs[0]:
        pd.testing.assert_frame_equal(outs[0][name], outs[1][name])
    # the feed continues each key's counters from where the history ended
    feed, hist = gen.history(4, 500)
    first = next(iter(outs[0].values())).iloc[0]
    prior = hist[hist["state"] == first["state"]]
    if len(prior):
        assert first["confirmed"] > prior["confirmed"].iloc[-1]
