from perfbench.spans import Span, layer_keys, per_op
from perfbench.stats import median, tail


def test_no_p90_below_100_samples():
    for n in (1, 10, 50, 99):
        assert tail([float(i) for i in range(n)], 0.9) is None


def test_p90_needs_ten_samples_beyond_it():
    xs = [float(i) for i in range(1, 101)]
    assert tail(xs, 0.9) == 90.0
    assert tail(xs, 0.9) < max(xs)
    assert tail(xs + [1000.0] * 9, 0.99) is None


def test_median():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([]) == 0.0


def test_self_time_subtracts_children():
    parent = Span("op", 0, "g0", None, 0.0, 10.0)
    parent.children = [Span("step.a", 0, "g1", "g0", 1.0, 3.0),
                       Span("step.b", 0, "g2", "g0", 3.0, 7.0)]
    assert parent.self_s == 4.0


def test_gate_spans_also_count_toward_their_phase():
    assert layer_keys("construct.bfs_hops") == ["construct.bfs_hops", "construct", "engine"]
    assert layer_keys("step.report") == ["step.report", "engine"]
    spans = [Span("construct.a", 0, "g0", None, 0.0, 2.0),
             Span("construct.b", 1, "g1", None, 0.0, 3.0),
             Span("step.x", 1, "g2", None, 0.0, 1.0),
             Span("step.x", 1, "g3", None, 1.0, 2.0)]
    got = per_op(spans, lambda s: s.end - s.start)
    assert got["construct"] == [2.0, 3.0]
    assert got["construct.a"] == [2.0]
    assert got["step.x"] == [2.0]  # summed within the op
    assert got["engine"] == [2.0, 5.0]  # every span of the op
