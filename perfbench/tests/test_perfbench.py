"""Unit tests of the benchmark's own pieces (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
from spans import Tracer, median, tail  # noqa: E402


def _same(a, b):
    if isinstance(a, np.ndarray):
        return a.dtype == b.dtype and np.array_equal(a, b)
    if isinstance(a, (list, tuple)):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    if isinstance(a, dict):
        return a.keys() == b.keys() and all(_same(a[k], b[k]) for k in a)
    return a == b


@pytest.mark.parametrize("make", [
    lambda s: gen.knn_pair(s, 200, 20),
    lambda s: gen.zipf_corpus(s, 300),
    lambda s: gen.zipf_corpus(s, 40, first_id=10 ** 9, stream="a7"),
    lambda s: gen.text_queries(s, 30, ["alpha beta gamma", "delta eps"]),
    lambda s: gen.clustered_embeddings(s, 100, dim=8),
])
def test_generators_are_deterministic_per_seed(make):
    assert _same(make(3), make(3))
    assert not _same(make(3), make(4))


def test_zipf_corpus_plants_are_real_copies():
    ids, texts, plants = gen.zipf_corpus(5, 600)
    by_id = dict(zip(ids.tolist(), texts))
    assert plants["exact"] and plants["near"] and plants["contam"]
    for i in plants["exact"]:
        assert sum(t == by_id[i] for t in texts) >= 2
    for i in plants["near"] + plants["contam"]:
        assert i % gen.BENCH_MOD != 0
    bench_texts = [by_id[i] for i in ids.tolist() if i % gen.BENCH_MOD == 0]
    for i in plants["contam"]:
        assert any(by_id[i].endswith(b) for b in bench_texts)


def test_tail_is_highest_percentile_with_ten_beyond():
    xs = [float(i) for i in range(1, 26)]  # 25 samples, shuffled order
    v, p, n = tail(list(reversed(xs)))
    assert (v, n) == (15.0, 25)
    assert sum(x > v for x in xs) == 10
    assert p == pytest.approx(60.0)
    v, p, n = tail([float(i) for i in range(20)])
    assert (v, p, n) == (9.0, pytest.approx(50.0), 20)


def test_tail_of_short_runs_is_the_maximum():
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    # 19 samples: the 10-beyond percentile (p47) would be below the median
    assert tail([float(i) for i in range(19)]) == (18.0, 100.0, 19)
    with pytest.raises(ValueError):
        tail([])


def test_median():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 2.0, 3.0]) == 2.5


def test_self_time_subtracts_children():
    ticks = iter([0.0, 1.0, 3.0, 4.0, 7.0, 10.0])
    t = Tracer(clock=lambda: next(ticks))
    t.begin_op(7)
    with t.span("op"):              # 0 .. 10
        with t.span("a"):           # 1 .. 3
            pass
        with t.span("b"):           # 4 .. 7
            pass
    assert [s.name for s in t.spans] == ["op", "a", "b"]
    assert [s.parent for s in t.spans] == [None, 0, 0]
    assert {s.op for s in t.spans} == {7}
    assert t.self_times() == [5.0, 2.0, 3.0]
    totals = t.layer_totals()
    assert totals["op"] == {"total_s": 10.0, "self_s": 5.0, "n": 1}


def test_nested_self_time_and_disabled_tracer():
    ticks = iter([0.0, 2.0, 3.0, 4.0, 5.0, 9.0])
    t = Tracer(clock=lambda: next(ticks))
    with t.span("op"):              # 0 .. 9
        with t.span("q"):           # 2 .. 5
            with t.span("q.call"):  # 3 .. 4
                pass
    assert t.self_times() == [6.0, 2.0, 1.0]
    off = Tracer(enabled=False)
    with off.span("op"):
        pass
    assert off.spans == []


def test_overhead_counts_own_spans_and_bookkeeping_inside_ops():
    ticks = iter([0.0, 1.0, 1.5, 4.0, 6.0, 7.0, 8.0, 9.0, 10.0, 11.0])
    t = Tracer(clock=lambda: next(ticks))
    with t.span("op"):                  # 0 .. 4
        with t.span("trace.gauge"):     # 1 .. 1.5
            pass
    with t.span("op"):                  # 6 .. 9
        with t.span("q"):               # 7 .. 8
            pass
    with t.span("trace.gauge"):         # outside any op: not counted
        pass
    assert t.overhead_s(per_span_s=0.0) == 0.5
    assert t.overhead_s(per_span_s=0.01) == pytest.approx(0.5 + 4 * 0.01)


def test_span_closes_on_error():
    ticks = iter([0.0, 1.0])
    t = Tracer(clock=lambda: next(ticks))
    with pytest.raises(RuntimeError):
        with t.span("op"):
            raise RuntimeError("boom")
    assert t.spans[0].end == 1.0
    assert t._stack == []
