"""Self time = duration - the part of it the child spans cover."""

import pytest

import spans
from spans import Span, Tracer


def test_self_time_on_a_synthetic_tree():
    tree = [
        Span("root", 0.0, 10.0),
        Span("a", 1.0, 4.0, parent=0),
        Span("a.leaf", 2.0, 3.0, parent=1),
        Span("b", 3.0, 6.0, parent=0),  # overlaps a: covered = [1, 6]
        Span("c", 9.0, 12.0, parent=0),  # clipped to the root's end
    ]
    assert spans.self_times(tree) == pytest.approx([4.0, 2.0, 1.0, 3.0, 3.0])
    tot = spans.totals(tree)
    assert tot["root"] == {"calls": 1, "total_s": 10.0, "self_s": 4.0}


def test_wrap_records_nesting_and_counts():
    tr = Tracer()

    def inner(x):
        return [x] * 3

    inner_w = tr.wrap("inner", inner,
                      lambda span, out: span.counts.update(n=len(out)))
    outer_w = tr.wrap("outer", lambda: inner_w(1) + inner_w(2))
    assert outer_w() == [1, 1, 1, 2, 2, 2]
    names = [(s.name, s.parent) for s in tr.spans]
    assert names == [("outer", -1), ("inner", 0), ("inner", 0)]
    assert [s.counts for s in tr.spans] == [{}, {"n": 3}, {"n": 3}]
    selfs = spans.self_times(tr.spans)
    assert selfs[0] <= tr.spans[0].end - tr.spans[0].start
    assert all(s >= 0 for s in selfs)


def test_wrap_closes_span_on_error():
    tr = Tracer()

    def boom():
        raise ValueError("x")

    with pytest.raises(ValueError):
        tr.wrap("boom", boom)()
    assert tr.spans[0].end >= tr.spans[0].start
    assert tr.begin("next") == 1 and tr.spans[1].parent == -1  # stack unwound


def test_install_and_uninstall_restore_the_engine():
    from starlake_spark import meta, sql
    from starlake_spark.operators import dml, reader, writer
    from starlake_spark.plans import mv

    before = (meta.ManifestStore.commit, writer.write_files, dml.upsert,
              reader.scan, mv.try_rewrite, sql.StarSession.sql)
    undo = spans.install(Tracer())
    try:
        assert writer.write_files is not before[1]
        assert writer.write_files.__wrapped__ is before[1]
    finally:
        spans.uninstall(undo)
    assert (meta.ManifestStore.commit, writer.write_files, dml.upsert,
            reader.scan, mv.try_rewrite, sql.StarSession.sql) == before
