"""Tests for the benchmark's own logic. None of them starts a Spark session.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import random

import pytest

from perfbench import gen, stats


# -- percentiles and failure accounting --------------------------------------


def test_nearest_rank_percentile():
    xs = list(range(1, 101))
    assert stats.percentile(xs, 50) == 50
    assert stats.percentile(xs, 90) == 90
    assert stats.percentile([7.0], 90) == 7.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_ten_samples_beyond_rule():
    assert stats.samples_beyond(100, 90) == 10
    assert stats.samples_beyond(20, 50) == 10
    assert not stats.supports_percentile(99, 90)
    assert stats.supports_percentile(100, 90)
    assert stats.samples_beyond(13, 90) == 1


def test_raising_op_counts_as_failed_not_dropped():
    ops = stats.OpLog()

    def boom():
        raise KeyError("c1")

    out, err, _ = stats.timed_op(ops, lambda: 1)
    assert out == 1 and err is None
    out, err, _ = stats.timed_op(ops, boom)
    assert out is None and err.startswith("KeyError")
    assert ops.attempted == 2 and ops.failures == 1
    assert ops.failed_share() == 0.5
    # the failed op stays in the sample, ranked above every completed op
    sample = ops.censored_sample(run_ms=5_000.0)
    assert len(sample) == 2
    assert max(sample) == 5_000.0
    assert stats.percentile(sample, 90) == 5_000.0


def test_censoring_keeps_the_longer_time():
    ops = stats.OpLog()
    ops.record(9_000.0, "timeout")
    assert ops.censored_sample(run_ms=1_000.0) == [9_000.0]


# -- generator determinism ---------------------------------------------------


def _backlog_digest(tmp_path, name, seed):
    from kinesis_data_counter_spark.sources.replay_source import write_shard_files

    d = tmp_path / name
    _, _, lines = gen.backlog_lines(seed, 3000)
    write_shard_files(iter(lines), str(d), gen.NUM_SHARDS)
    return gen.files_digest([str(p) for p in d.iterdir()])


def test_backlog_files_are_byte_identical_per_seed(tmp_path):
    a = _backlog_digest(tmp_path, "a", 7)
    b = _backlog_digest(tmp_path, "b", 7)
    c = _backlog_digest(tmp_path, "c", 8)
    assert a == b != c


def test_events_and_tail_payloads_are_deterministic():
    p1, o1 = gen.lambda_plan(3, windows=2, nonfinal=1, per_event=50)
    p2, o2 = gen.lambda_plan(3, windows=2, nonfinal=1, per_event=50)
    p3, _ = gen.lambda_plan(4, windows=2, nonfinal=1, per_event=50)
    assert gen.plan_digest(p1) == gen.plan_digest(p2) != gen.plan_digest(p3)
    assert o1.expected() == o2.expected()
    t1, t2 = gen.TailPayloads.make(5, 500), gen.TailPayloads.make(5, 500)
    assert t1.digest() == t2.digest() != gen.TailPayloads.make(6, 500).digest()


def test_lambda_plan_shape():
    plan, _ = gen.lambda_plan(1, windows=2, nonfinal=2, per_event=40)
    for ops in plan:
        assert len(ops) == 3 * gen.NUM_SHARDS
        assert [op.final for op in ops].count(True) == gen.NUM_SHARDS
        assert all(op.final for op in ops[-gen.NUM_SHARDS:])
        assert all(len(op.records) == 40 for op in ops)


def test_corrupt_records_do_not_parse():
    recs = gen.make_records(random.Random(0), 2 * gen.CORRUPT_EVERY)
    bad = [r for r in recs if r.corrupt]
    assert len(bad) == 2
    with pytest.raises(json.JSONDecodeError):
        json.loads(bad[0].line(gen.BASE_MS))
    good = json.loads(recs[0].line(gen.BASE_MS))
    assert good["__arrival_ms"] == gen.BASE_MS and good["__pk"] == recs[0].pk


# -- oracle arithmetic and comparison ----------------------------------------


def _rec(i, user, status, corrupt=False):
    return gen.Rec(i, user, status, "/p/1", corrupt)


def test_oracle_counts_by_window_and_skips_corrupt():
    o = gen.Oracle()
    w0, w1 = gen.BASE_MS, gen.BASE_MS + gen.WINDOW_MS
    o.add(_rec(0, 1, 200), w0)
    o.add(_rec(1, 1, 503), w0 + 59_999)
    o.add(_rec(2, 2, 404), w0 + 10)
    o.add(_rec(3, 9, 200, corrupt=True), w0)
    o.add(_rec(4, 3, 500), w1)
    exp = o.expected()
    assert exp[("records", w0, "")] == 3
    assert exp[("errors", w0, "")] == 1
    assert exp[("not_found", w0, "")] == 1
    assert exp[("users", w0, "")] == 2
    assert exp[("records", w1, "")] == 1 and exp[("errors", w1, "")] == 1
    assert o.failures == 1
    assert not any(k[1] == 0 for k in exp)


def test_oracle_two_level_keys_distinct_globally():
    o = gen.Oracle()
    o.add(_rec(0, 1, 200), gen.BASE_MS, "shard-000", distinct_shard="")
    o.add(_rec(1, 1, 200), gen.BASE_MS, "shard-001", distinct_shard="")
    exp = o.expected()
    assert exp[("records", gen.BASE_MS, "shard-000")] == 1
    assert exp[("users", gen.BASE_MS, "")] == 1


def test_compare_exact_counts_and_hll_tolerance():
    w = gen.BASE_MS
    expected = {("records", w, ""): 100, ("users", w, ""): 1000}
    ok = gen.compare(expected, [(("records", w, ""), 100), (("users", w, ""), 1049)])
    assert ok.bad_rows == 0 and ok.unexplained == 0
    assert ok.hll_max_rel_err == pytest.approx(0.049)
    off = gen.compare(expected, [(("records", w, ""), 101), (("users", w, ""), 1051)])
    assert off.wrong == 2 and off.unexplained == 2
    assert off.wrong_result_share() == 1.0


def test_compare_missing_extra_and_known_defect_rows():
    w = gen.BASE_MS
    expected = {("records", w, "s0"): 5, ("records", w, "s1"): 6}
    chk = gen.compare(
        expected,
        [(("records", w, "s0"), 5), (("records", 0, ""), 3), (("records", w, "s0"), 5)],
        explained={("records", w, "s1")},
    )
    assert chk.missing == 1 and chk.extra == 2
    assert chk.known_defect_rows == 1  # the epoch-0 window of corrupt records
    assert chk.explained_by_failed_ops == 1
    assert chk.unexplained == 1  # the duplicate row
    assert chk.wrong_result_share() == 3 / 2


# -- open loop ---------------------------------------------------------------


class _FakeClock:
    def __init__(self):
        self.now = 100.0

    def time(self):
        return self.now

    def sleep(self, s):
        self.now += s


def test_open_loop_lateness_is_measured_from_due_time():
    clock = _FakeClock()
    sent = []

    def send(i, due):
        sent.append(due)
        if i == 1:
            clock.now += 0.35  # a stall while sending tick 1

    loop = gen.OpenLoop(0.1, send, clock=clock.time, sleep=clock.sleep)
    assert loop.run(start=100.0, ticks=6) == 6
    assert sent == pytest.approx([100.0 + 0.1 * i for i in range(6)])
    # ticks 2 and 3 were due during the stall; tick 4 is back on time
    assert loop.late_ms == pytest.approx([0, 0, 250, 150, 50, 0], abs=1e-6)


def test_open_loop_stops_when_asked():
    clock = _FakeClock()
    loop = gen.OpenLoop(0.1, lambda i, due: None, clock=clock.time, sleep=clock.sleep)
    assert loop.run(start=100.0, ticks=10, stop=lambda: len(loop.late_ms) >= 3) == 3

