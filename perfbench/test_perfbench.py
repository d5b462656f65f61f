"""Unit tests for the benchmark's own logic (no Spark needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import hashlib
import itertools
import os

import pytest

from datagen import Shape, generate
from spans import Span, Tally, Tracer, covered, tail
from workloads import (
    INSERT_ROWS,
    INTERACTIVE_ROUND,
    Run,
    insert_batch,
    rounds,
)


def test_tail_has_ten_samples_beyond_it():
    xs = [float(i) for i in range(30)]
    value, pct, n = tail(list(reversed(xs)))
    assert n == 30
    assert value == 19.0
    assert sum(x > value for x in xs) == 10
    assert pct == pytest.approx(100 * 19 / 29)


def test_tail_grows_with_the_sample_count():
    assert tail([1.0] * 10 + [5.0])[:2] == (1.0, 0.0)
    v, pct, n = tail([float(i) for i in range(111)])
    assert (v, n) == (100.0, 111) and pct == pytest.approx(100 * 100 / 110)


def test_tail_below_eleven_samples_is_the_maximum():
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)


def test_covered_merges_overlapping_and_clips_to_parent():
    assert covered([(1, 5), (3, 7)], 0, 10) == 6
    assert covered([(1, 2), (4, 5)], 0, 10) == 2
    assert covered([(-5, 2), (8, 20)], 0, 10) == 4
    assert covered([], 0, 10) == 0


def test_self_time_subtracts_union_of_overlapping_children():
    tr = Tracer(enabled=True)
    tr.spans = [
        Span("op", 0.0, None, 0, end=10.0, children=[1, 2, 3]),
        Span("plans", 1.0, 0, 0, end=5.0),
        Span("execute", 3.0, 0, 0, end=7.0),  # overlaps plans by 2s
        Span("execute", 9.0, 0, 0, end=12.0),  # runs past its parent
    ]
    assert tr.self_time(tr.spans[0]) == pytest.approx(10 - 6 - 1)
    assert tr.self_time(tr.spans[1]) == pytest.approx(4)


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("plans") as s:
        assert s is None
    assert tr.spans == []


def test_enabled_tracer_nests_spans():
    tr = Tracer(enabled=True)
    with tr.span("op"):
        with tr.span("plans"):
            pass
    assert [s.name for s in tr.spans] == ["op", "plans"]
    assert tr.spans[1].parent == 0 and tr.spans[0].children == [1]


class _FakeStage:
    def __init__(self, tasks: int, status: str = "COMPLETE"):
        self.tasks, self._status = tasks, status

    def status(self):
        return type("Status", (), {"toString": lambda _: self._status})()

    def __getattr__(self, acc):  # the other StageData counters read 0
        return lambda: self.tasks if acc == "numTasks" else 0


class _FakeSc:
    """The SparkContext surface Tracer uses: job groups map to jobs, jobs
    to stage ids, stage ids to their last attempt."""

    def __init__(self, jobs: dict[str, list[list[int]]], stages: dict):
        self.jobs, self.props = jobs, {}
        store = type("Store", (), {"lastStageAttempt": lambda _, sid: stages[sid]})()
        core = type("Core", (), {"statusStore": lambda _: store})()
        self._jsc = type("Jsc", (), {"sc": lambda _: core})()

    def getLocalProperty(self, key):
        return self.props.get(key)

    def setLocalProperty(self, key, value):
        self.props[key] = value

    def setJobGroup(self, group, description):
        self.props["spark.jobGroup.id"] = group

    def statusTracker(self):
        sc = self

        class Tracker:
            def getJobIdsForGroup(self, group):
                return [(group, i) for i in range(len(sc.jobs.get(group, [])))]

            def getJobInfo(self, jid):
                group, i = jid
                return type("Info", (), {"stageIds": sc.jobs[group][i]})()

        return Tracker()


def test_stage_counted_once_and_skipped_stages_ignored():
    stages = {0: _FakeStage(4), 1: _FakeStage(8), 2: _FakeStage(16, "SKIPPED"),
              3: _FakeStage(32)}
    # span 1 reuses span 0's stage 1, skips stage 2 and lists stage 3 in
    # two of its jobs
    sc = _FakeSc({"perfbench-0": [[0, 1]],
                  "perfbench-1": [[1, 2, 3], [3]]}, stages)
    tr = Tracer(enabled=True)
    tr.sc = sc
    for name in ("plans", "execute"):
        with tr.span(name):
            pass
    assert [s.counters["tasks"] for s in tr.spans] == [12, 32]
    assert [s.counters["jobs"] for s in tr.spans] == [1, 2]
    assert sc.props["spark.jobGroup.id"] is None  # restored on exit


def _run() -> Run:
    return Run(workload="interactive_mix", seed=1, seconds=0,
               tracer=Tracer(enabled=False), work="")


def test_error_rate_counts_exceptions_and_wrong_outputs():
    run = _run()
    run.op("good", lambda: 1, lambda r: r == 1)
    run.op("wrong", lambda: 2, lambda r: r == 1)

    def boom():
        raise RuntimeError("boom")

    run.op("raises", boom, lambda r: True)
    run.op("warm", lambda: 1, lambda r: r == 2, timed=False)
    assert (run.tally.attempted, run.tally.failed) == (4, 3)
    assert run.tally.error_rate == pytest.approx(3 / 4)
    assert [n for n, _ in run.samples] == ["good", "wrong", "raises"]
    assert all(dt >= 0 for _, dt in run.samples)
    assert "boom" in run.tally.errors[1]


def test_tally_error_rate():
    t = Tally()
    assert t.error_rate == 0.0
    for ok in (True, True, False, True):
        t.record(ok)
    assert t.error_rate == 0.25


def test_run_window_finishes_whole_rounds():
    run = _run()
    done = []
    run.run_window(itertools.cycle("abc"), done.append, whole_rounds=3)
    assert done == ["a", "b", "c"]


def _take(gen, n):
    return list(itertools.islice(gen, n))


def test_same_seed_same_op_sequence():
    k = len(INTERACTIVE_ROUND)
    a = _take(rounds(INTERACTIVE_ROUND, 7), 4 * k)
    assert a == _take(rounds(INTERACTIVE_ROUND, 7), 4 * k)
    assert a != _take(rounds(INTERACTIVE_ROUND, 8), 4 * k)
    assert a[:k] == list(INTERACTIVE_ROUND)  # the cold round: listed order
    for i in range(0, 4 * k, k):
        assert sorted(a[i:i + k]) == sorted(INTERACTIVE_ROUND)


def test_first_replay_follows_an_insert():
    for seed in range(20):
        a = _take(rounds(INTERACTIVE_ROUND, seed), 3 * len(INTERACTIVE_ROUND))
        assert a.index("insert") < a.index("replay")


def test_same_seed_same_insert_batches_with_fresh_ids():
    a, b = insert_batch(3, 0), insert_batch(3, 0)
    assert a.equals(b)
    assert not a.equals(insert_batch(4, 0))
    ids0 = set(a["vec_id"].to_pylist())
    ids1 = set(insert_batch(3, 1)["vec_id"].to_pylist())
    assert len(ids0) == len(ids1) == INSERT_ROWS and not ids0 & ids1


def _digest(d: str) -> str:
    h = hashlib.sha256()
    for f in sorted(os.listdir(d)):
        with open(os.path.join(d, f), "rb") as fh:
            h.update(f.encode() + fh.read())
    return h.hexdigest()


def test_same_seed_same_corpus(tmp_path):
    shape = Shape(orders=50, customers=10, parts=20, suppliers=5, events=40,
                  users=8, documents=12, doc_copies=3, vectors=10, vec_copies=2)
    generate(str(tmp_path / "a"), shape, 5)
    generate(str(tmp_path / "b"), shape, 5)
    generate(str(tmp_path / "c"), shape, 6)
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    assert _digest(tmp_path / "a") != _digest(tmp_path / "c")
