import pytest

from spans import Span, descendants_jobs, outermost, self_times


def _span(sid, name, start, end, parent=None, jobs=()):
    sp = Span(sid, name, start, parent, "window")
    sp.end = end
    sp.jobs = list(jobs)
    return sp


@pytest.fixture
def tree():
    return [
        _span(0, "plans.construct", 0.0, 10.0, jobs=[1]),
        _span(1, "sources.read_table", 1.0, 3.0, 0),
        # overlaps its sibling by one second
        _span(2, "storage.append", 2.0, 5.0, 0, jobs=[2, 3]),
        # ends after its parent: only the part inside the parent counts
        _span(3, "sources.read_table", 8.0, 12.0, 0),
        _span(4, "operators.scd2", 2.5, 3.0, 2, jobs=[4]),
    ]


def test_self_time_subtracts_the_union_of_child_intervals(tree):
    st = self_times(tree)
    assert st[0] == pytest.approx(10.0 - 4.0 - 2.0)  # children cover [1, 5] and [8, 10]
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(3.0 - 0.5)
    assert st[4] == pytest.approx(0.5)


def test_self_time_of_a_child_inside_another_child_is_not_subtracted_twice():
    spans = [
        _span(0, "pipeline.gold", 0.0, 4.0),
        _span(1, "storage.overwrite", 1.0, 3.0, 0),
        _span(2, "storage.append", 1.5, 2.0, 0),
    ]
    assert self_times(spans)[0] == pytest.approx(2.0)


def test_outermost_drops_spans_nested_in_a_named_ancestor(tree):
    ids = lambda spans: [sp.sid for sp in spans]  # noqa: E731
    assert ids(outermost(tree, {"sources.read_table"})) == [1, 3]
    assert ids(outermost(tree, {"plans.construct", "sources.read_table"})) == [0]
    # an unnamed span in between does not hide the nesting
    assert ids(outermost(tree, {"plans.construct", "operators.scd2"})) == [0]
    assert ids(outermost(tree, {"operators.scd2"})) == [4]


def test_descendant_jobs_sum_over_the_subtree(tree):
    assert descendants_jobs(tree, tree[0]) == 4
    assert descendants_jobs(tree, tree[2]) == 3
