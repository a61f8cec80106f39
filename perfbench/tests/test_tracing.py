import types

from eventlog import GroupStats
from tracing import Tracer


class FakeContext:
    def __init__(self):
        self.group = None

    def setJobGroup(self, group, description):
        self.group = group

    def setLocalProperty(self, key, value):
        assert key == "spark.jobGroup.id"
        self.group = value


def test_nested_spans_tag_jobs_and_restore_the_parent_group():
    sc = FakeContext()
    tr = Tracer(sc)
    with tr.span("ingest", 3) as outer:
        assert sc.group == outer.group
        with tr.span("fixpoint", tr.op) as inner:
            assert sc.group == inner.group and inner.op == 3
        assert sc.group == outer.group
    assert sc.group is None
    assert inner.parent == outer.id and outer.parent is None
    assert outer.seconds >= inner.seconds >= 0
    assert [s.id for s in tr.subtree(outer)] == [outer.id, inner.id]


def test_wrap_nests_a_span_and_restores_the_function():
    sc = FakeContext()
    tr = Tracer(sc)
    mod = types.SimpleNamespace(work=lambda x: x * 2)
    original = mod.work
    with tr.span("snapshots", 0):
        with tr.wrap(mod, "work", "materialize", lambda s, out: s.counts.update(out=out)):
            assert mod.work(21) == 42
    assert mod.work is original
    inner = tr.spans[1]
    assert (inner.name, inner.parent, inner.counts) == ("materialize", 0, {"out": 42})


def test_inclusive_totals_cover_nested_spans_only():
    tr = Tracer(FakeContext())
    with tr.span("ingest", 0) as a:
        with tr.span("fixpoint", 0) as b:
            pass
    with tr.span("ingest", 1) as c:
        pass
    groups = {
        a.group: GroupStats(jobs=2, task_s=1.0),
        b.group: GroupStats(jobs=5, shuffle_mb=3.0),
        c.group: GroupStats(jobs=7),
    }
    tot = tr.inclusive(a, groups)
    assert (tot.jobs, tot.task_s, tot.shuffle_mb) == (7, 1.0, 3.0)
    assert tr.inclusive(b, groups).jobs == 5
