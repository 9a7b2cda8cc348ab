"""Tests for the benchmark's own arithmetic (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats as S  # noqa: E402
from corpus import Corpus, canonical_tagged, expected_store, Point  # noqa: E402


def test_percentile_interpolates():
    assert S.percentile([1, 2, 3, 4], 0.5) == 2.5
    assert S.percentile([5], 0.95) == 5
    assert S.percentile([0, 10], 0.95) == pytest.approx(9.5)


def test_tail_percentile_keeps_ten_samples_beyond():
    xs = list(range(1000))
    q, _ = S.tail_percentile(xs, 0.95)
    assert q == 0.95  # 50 samples beyond p95
    q, v = S.tail_percentile(list(range(100)), 0.95)
    assert q == pytest.approx(0.90)  # p95 would leave 5 beyond
    assert sum(1 for x in range(100) if x > v) >= 10
    q, _ = S.tail_percentile(list(range(15)), 0.95)
    assert q == 0.5  # never below the median
    with pytest.raises(ValueError):
        S.tail_percentile([], 0.95)


def _ev(bid, rows, start, trigger_ms, idle=False):
    d = {"triggerExecution": trigger_ms}
    if not idle:
        d["addBatch"] = trigger_ms - 1
    return {"batchId": bid, "numInputRows": rows, "timestamp": start, "durationMs": d}


def test_commits_dedupe_sort_and_skip_idle():
    events = [
        _ev(2, 50, "2026-01-01T00:00:10.000Z", 2000),
        _ev(1, 100, "2026-01-01T00:00:05.000Z", 1500),
        _ev(1, 100, "2026-01-01T00:00:05.000Z", 1500),  # observed twice
        _ev(2, 0, "2026-01-01T00:00:20.000Z", 5, idle=True),  # idle tick
    ]
    commits = S.commits_from_progress(events)
    assert [c.batch_id for c in commits] == [1, 2]
    assert [c.cum_rows for c in commits] == [100, 150]
    base = S._epoch("2026-01-01T00:00:00.000Z")
    assert commits[0].end - base == pytest.approx(6.5)
    assert commits[1].end - base == pytest.approx(12.0)


def test_freshness_from_cumulative_rows():
    commits = [S.Commit(0, 500, 500, 100.0), S.Commit(1, 300, 800, 104.0), S.Commit(2, 300, 1100, 109.0)]
    # baseline 500 rows (warm-up) were committed before the window
    groups_cum = [100, 300, 301, 600]
    times = S.group_commit_times(groups_cum, commits, baseline_rows=500)
    assert times == [104.0, 104.0, 109.0, 109.0]  # 300 is covered exactly by batch 1
    fresh, missing = S.freshness([101.0, 101.5, 102.0, 103.0], times)
    assert fresh == pytest.approx([3.0, 2.5, 7.0, 6.0])
    assert missing == 0


def test_freshness_progress_published_late():
    """A batch can commit before its progress is published. A snapshot
    taken in between must not assign the group to a later poll time: the
    group stays uncommitted until the covering batch's own progress is
    seen, and then takes that batch's commit time."""
    early = [S.Commit(0, 100, 100, 10.0)]
    assert S.group_commit_times([100, 200], early, 0) == [10.0, None]
    fresh, missing = S.freshness([9.0, 9.5], S.group_commit_times([100, 200], early, 0))
    assert missing == 1 and fresh == [1.0]
    late = early + [S.Commit(1, 100, 200, 11.0)]  # published at t=15, committed at 11
    assert S.group_commit_times([100, 200], late, 0) == [10.0, 11.0]


def test_self_time_subtracts_children_once():
    spans = [
        S.Span("parent", 0.0, 10.0, 1, None, 1),
        S.Span("a", 1.0, 4.0, 2, 1, 1),
        S.Span("b", 3.0, 5.0, 3, 1, 1),  # overlaps a
        S.Span("c", 9.0, 12.0, 4, 1, 1),  # runs past the parent
        S.Span("leaf", 1.5, 2.0, 5, 2, 1),
    ]
    st = S.self_times(spans)
    assert st[1] == pytest.approx(10 - 4 - 1)  # [1,5] and [9,10] covered
    assert st[2] == pytest.approx(3 - 0.5)
    assert st[5] == pytest.approx(0.5)


def test_tracer_nests_on_one_thread():
    t = S.Tracer(True)
    with t.span("outer"):
        with t.span("inner", k=1):
            pass
    inner, outer = t.spans
    assert inner.parent == outer.span_id and inner.trace_id == outer.trace_id
    off = S.Tracer(False)
    with off.span("x"):
        pass
    assert off.spans == []


def test_ledger_counts_failures_against_attempts():
    led = S.Ledger()
    led.add("send_group", 10, 1)  # one group never committed
    led.add("read.render_literal", 1, 1)  # error
    led.add("read.render_literal", 1, 0)
    assert led.total() == (12, 2)
    assert led.ratio() == pytest.approx(2 / 12)
    with pytest.raises(ValueError):
        led.add("x", 1, 2)


def test_canonical_tags_sorted_last_wins():
    assert canonical_tagged("cpu.loadavg", [("env", "test2"), ("host", "host1"), ("env", "test")]) \
        == "cpu.loadavg?env=test&host=host1"


def test_corpus_lines_are_seeded_and_classified():
    a, b = Corpus(3, 4, 3, 20), Corpus(3, 4, 3, 20)
    assert a.live_group(5, 300, 1000) == b.live_group(5, 300, 1000)
    assert Corpus(4, 4, 3, 20).live_group(5, 300, 1000) != a.live_group(5, 300, 1000)
    lines = a.live_group(0, 200, 1000)
    assert sum(1 for _, p in lines if p is None) == 4  # one per drop class
    recv = [p for _, p in lines if p is not None and p.ts is None]
    assert len(recv) == 1 and lines[4][0].endswith(" -1")
    for text, p in lines:
        if p is not None and "?" in p.path:
            assert ";" in text.split(" ")[0]


def test_expected_store_replaces_and_rolls_up():
    pts = [Point("a", 100, 1.0), Point("a", 130, 3.0), Point("a", 200, 5.0), Point("b", 5000, 2.0)]
    rew = [Point("b", 5000, 9.0)]
    got = expected_store(pts, rew, rolled_before=1000)
    assert got == {("a", 60): 1.0, ("a", 120): 3.0, ("a", 180): 5.0, ("b", 5000): 9.0}
    got = expected_store([Point("a", 100, 1.0), Point("a", 110, 3.0)], [], 1000)
    assert got == {("a", 60): 2.0}
