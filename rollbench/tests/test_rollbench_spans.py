"""Span bookkeeping: union length, self time, wrappers."""

import os
import threading

import pytest

from spans import Span, Tracer, self_times, union_length

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_union_length_merges_overlaps_and_gaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (2, 3)]) == 2.0
    assert union_length([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]) == 4.0


def test_self_time_subtracts_union_of_children_clipped_to_parent():
    spans = [
        Span("root", 0.0, 10.0, None, 0, id=1),
        # two overlapping children (concurrent buckets): union is [1, 5]
        Span("a", 1.0, 4.0, 1, 0, id=2),
        Span("b", 2.0, 5.0, 1, 0, id=3),
        # a child that outlives its parent counts only inside it
        Span("c", 9.0, 12.0, 1, 0, id=4),
        Span("a.inner", 1.5, 2.5, 2, 0, id=5),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[2] == pytest.approx(3.0 - 1.0)
    assert st[3] == pytest.approx(3.0)
    assert st[5] == pytest.approx(1.0)


class _Layer:
    def work(self, x):
        return x * 2

    def skip(self, x):
        return x


def test_wrap_records_spans_parents_and_restores():
    tr = Tracer()
    tr.wrap(_Layer, "work", "layer.work", lambda a, k, out: {"out": out})
    tr.wrap(_Layer, "skip", lambda self, x: None)  # None: call is not traced
    with tr.span("op", adopt=True) as root:
        assert _Layer().work(3) == 6
        assert _Layer().skip(1) == 1
        # a worker thread with no open span is adopted by the root
        t = threading.Thread(target=_Layer().work, args=(1,))
        t.start()
        t.join(timeout=10)
        assert not t.is_alive()
    tr.uninstall()
    names = sorted(s.name for s in tr.spans)
    assert names == ["layer.work", "layer.work", "op"]
    kids = [s for s in tr.spans if s.name == "layer.work"]
    assert all(s.parent == root.id for s in kids)
    assert sorted(s.attrs["out"] for s in kids) == [2, 6]
    assert _Layer.work.__qualname__ == "_Layer.work"  # original is back



def test_install_traces_staging_io_on_live_dataframes(tmp_path):
    """The staging write, its read-back and the read-back's row count on
    real DataFrames each give a ``rollup_job.staging`` span.  Spark 4's
    classic DataFrame overrides ``count``, so the wrapper must sit on the
    class of a live DataFrame."""
    from importlib.util import module_from_spec, spec_from_file_location

    from biomed_timeseries_preprocessing_spark.session import get_spark

    spec = spec_from_file_location("rollup_job", os.path.join(ROOT, "jobs", "rollup_job.py"))
    job = module_from_spec(spec)
    spec.loader.exec_module(job)
    spark = get_spark(app_name="rollbench-test", master="local[1]")
    count = type(spark.range(0)).count
    staging = str(tmp_path / "_staging" / "run")
    tr = Tracer(spark.sparkContext)
    tr.install(spark, job)
    try:
        spark.range(10).write.mode("overwrite").parquet(staging)
        assert spark.read.parquet(staging).count() == 10
        assert spark.range(3).count() == 3  # not staged: no span
    finally:
        tr.uninstall()
    assert [s.name for s in tr.spans] == ["rollup_job.staging"] * 3
    assert type(spark.range(0)).count is count
