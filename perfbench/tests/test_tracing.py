"""Spans, self time and job-group bookkeeping, with a stand-in engine."""

import threading

from pdcmbench.tracing import Span, Tracer, self_time


class FakeEngine:
    def __init__(self):
        self.groups = []

    def set_job_group(self, group):
        self.groups.append(group)

    def clear_job_group(self):
        self.groups.append(None)


def test_self_time_subtracts_the_union_of_children():
    parent = Span(0, "p", None, 0, 0, start=0.0, end=10.0)
    kids = [Span(1, "a", 0, 0, 0, start=1.0, end=4.0),
            Span(2, "b", 0, 0, 0, start=3.0, end=5.0),   # overlaps a
            Span(3, "c", 0, 0, 0, start=9.0, end=12.0)]  # runs past p
    assert self_time(parent, kids) == 10.0 - 4.0 - 1.0


def test_nested_spans_record_parent_iteration_and_groups():
    engine = FakeEngine()
    tracer = Tracer(engine, enabled=True)
    with tracer.layer("release", iteration=3, jobs=False):
        with tracer.layer("incremental") as inc:
            with tracer.layer("dag.run") as run:
                pass
        with tracer.layer("sinks.write"):
            pass
    names = [s.name for s in tracer.spans]
    assert names == ["release", "incremental", "dag.run", "sinks.write"]
    assert run.parent == inc.id and inc.parent == tracer.spans[0].id
    assert {s.iteration for s in tracer.spans} == {3}
    # a child's job group is replaced by its parent's when it closes
    assert engine.groups == [inc.group, run.group, inc.group, None,
                             tracer.spans[3].group, None]
    assert all(s.end >= s.start > 0 for s in tracer.spans)


def test_threads_keep_their_own_span_stacks():
    tracer = Tracer(FakeEngine(), enabled=True)

    def client(k):
        with tracer.layer(f"views.{k}", iteration=k):
            pass

    threads = [threading.Thread(target=client, args=(k,)) for k in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=10)
        assert not t.is_alive()
    assert sorted(s.iteration for s in tracer.spans) == list(range(8))
    assert all(s.parent is None for s in tracer.spans)


def test_disabled_tracer_records_nothing():
    engine = FakeEngine()
    tracer = Tracer(engine, enabled=False)
    with tracer.layer("release") as span:
        assert span is None
    assert tracer.spans == [] and engine.groups == []
