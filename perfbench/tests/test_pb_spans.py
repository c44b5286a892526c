import pytest

from spans import Tracer, percentile, self_time, summarize, tail_percentile, union_length


def test_union_merges_overlaps_and_clips():
    assert union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_length([(-5, 1), (9, 20)], 0, 10) == 2
    assert union_length([], 0, 10) == 0
    assert union_length([(3, 3), (4, 2)], 0, 10) == 0


def test_self_time_is_duration_minus_covered_children():
    # children overlap each other and stick out of the parent
    assert self_time(10, 20, [(9, 12), (11, 15), (18, 25)]) == pytest.approx(3)
    assert self_time(0, 5, []) == 5
    assert self_time(0, 5, [(0, 5)]) == 0


def test_percentile_interpolates_like_numpy_linear():
    xs = [4, 1, 3, 2]
    assert percentile(xs, 0) == 1
    assert percentile(xs, 100) == 4
    assert percentile(xs, 50) == 2.5
    assert percentile(xs, 25) == pytest.approx(1.75)
    assert percentile([7], 90) == 7
    with pytest.raises(ValueError):
        percentile([], 50)


@pytest.mark.parametrize(
    "n, expected",
    [(5, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (100, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, expected):
    assert tail_percentile(n) == expected


def test_summarize_states_tail_and_count():
    s = summarize([float(i) for i in range(40)])
    assert s["n"] == 40 and s["tail_pct"] == 75.0
    assert s["tail"] == pytest.approx(29.25)
    assert summarize([1.0, 2.0])["tail"] is None
    assert summarize([]) == {"n": 0}


class _FakeContext:
    def __init__(self):
        self.props = {}

    def setJobGroup(self, group, description):
        self.props["spark.jobGroup.id"] = group
        self.props["spark.job.description"] = description

    def setLocalProperty(self, key, value):
        if value is None:
            self.props.pop(key, None)
        else:
            self.props[key] = value


def test_tracer_nests_spans_and_restores_job_groups():
    sc = _FakeContext()
    t = Tracer(sc)
    with t.span("outer") as outer:
        assert sc.props["spark.jobGroup.id"] == outer.group
        with t.span("inner", role="write", iteration=3) as inner:
            assert sc.props["spark.jobGroup.id"] == inner.group
        assert sc.props["spark.jobGroup.id"] == outer.group
    assert "spark.jobGroup.id" not in sc.props
    assert inner.parent == outer.id and outer.parent is None
    assert outer.start <= inner.start <= inner.end <= outer.end
    assert t.timed("write") == [inner] and inner.attrs == {"iteration": 3}


def test_untraced_tracer_only_times():
    t = Tracer()
    with t.span("call", role="read") as s:
        pass
    assert s.duration >= 0 and t.timed("read") == [s]
