"""Tests of the benchmark's measurement helpers (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

import os

import pytest

from perfbench import measure


class TestPercentileRule:
    def test_needs_ten_samples_beyond(self):
        assert measure.samples_beyond(99, 0.9) == 9
        assert measure.percentile(list(range(99)), 0.9) is None
        assert measure.samples_beyond(100, 0.9) == 10
        assert measure.percentile(list(range(100)), 0.9) == 89

    def test_nearest_rank_ignores_input_order(self):
        values = [float(v) for v in reversed(range(1, 201))]
        assert measure.percentile(values, 0.9) == 180.0
        assert measure.percentile(values, 0.5) == 100.0

    def test_small_runs_report_no_tail(self):
        assert measure.percentile([], 0.5) is None
        assert measure.percentile([1.0] * 7, 0.5) is None
        assert measure.percentile([1.0] * 20, 0.5) == 1.0

    def test_drift_halves_flags_beyond_bound(self):
        d = measure.drift_halves([100, 100, 100, 130, 130, 130], 0.1)
        assert (d["first_half"], d["second_half"]) == (100, 130)
        assert d["flagged"] and d["drift"] == pytest.approx(0.3)
        assert not measure.drift_halves([100, 104, 100, 105], 0.1)["flagged"]


def _span(name, start, end, parent=None, op=None):
    return [name, start, end, parent, op]


class TestSelfTime:
    def test_children_are_subtracted_once(self):
        spans = [
            _span("op", 0.0, 10.0),
            _span("a", 1.0, 3.0, 0),
            _span("b", 2.0, 5.0, 0),  # overlaps a: covered is [1, 5]
            _span("c", 7.0, 8.0, 0),
        ]
        assert measure.self_times(spans) == pytest.approx([5.0, 2.0, 3.0, 1.0])

    def test_grandchildren_count_only_against_their_parent(self):
        spans = [
            _span("op", 0.0, 10.0),
            _span("child", 1.0, 9.0, 0),
            _span("grandchild", 2.0, 3.0, 1),
        ]
        assert measure.self_times(spans) == pytest.approx([2.0, 7.0, 1.0])

    def test_child_outside_parent_is_clipped(self):
        spans = [_span("p", 0.0, 4.0), _span("c", 3.0, 6.0, 0)]
        assert measure.self_times(spans) == pytest.approx([3.0, 3.0])

    def test_tracer_records_parents_and_ops(self, monkeypatch):
        clock = iter([0.0, 1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 10.0, 11.0, 12.0])
        monkeypatch.setattr(measure.time, "perf_counter", lambda: next(clock))
        t = measure.Tracer()
        t.op_id = 3
        with t.span("op"):  # 0 .. 10
            with t.span("evaluate"):  # 1 .. 4
                with t.span("store.scan"):  # 2 .. 3
                    pass
            with t.span("evaluate"):  # 5 .. 6
                pass
        t.op_id = None
        with t.span("evaluate"):  # 11 .. 12, outside any op
            pass
        assert [s[3] for s in t.spans] == [None, 0, 1, 0, None]
        assert [s[4] for s in t.spans] == [3, 3, 3, 3, None]
        assert t.count_per_op("evaluate", [3]) == [2]
        assert t.per_op("evaluate", [3]) == pytest.approx([(3.0 - 1.0) + 1.0])
        assert t.per_op("evaluate", [3], self_time=False) == pytest.approx([4.0])
        assert t.per_op("op", [3]) == pytest.approx([10.0 - 3.0 - 1.0])

    def test_wrap_records_a_span_and_returns(self):
        class Engine:
            def evaluate(self, x):
                return x * 2

        t = measure.Tracer()
        t.wrap(Engine, "evaluate", "evaluate")
        assert Engine().evaluate(21) == 42
        assert [s[0] for s in t.spans] == ["evaluate"]


class TestWriteBytes:
    def test_new_and_changed_files_count(self, tmp_path):
        (tmp_path / "date=1").mkdir()
        kept, rewritten, gone = (tmp_path / "date=1" / n for n in ("kept", "rewritten", "gone"))
        kept.write_bytes(b"x" * 10)
        rewritten.write_bytes(b"x" * 20)
        gone.write_bytes(b"x" * 30)
        before = measure.snapshot(str(tmp_path))
        rewritten.write_bytes(b"y" * 25)
        gone.unlink()
        (tmp_path / "date=2").mkdir()
        (tmp_path / "date=2" / "new.parquet").write_bytes(b"z" * 5)
        after = measure.snapshot(str(tmp_path))
        assert measure.bytes_written(before, after) == 25 + 5
        assert measure.bytes_written(after, after) == 0
        assert measure.data_files(str(tmp_path)) == 1

    def test_same_size_rewrite_counts(self, tmp_path):
        f = tmp_path / "part-0.parquet"
        f.write_bytes(b"a" * 8)
        before = measure.snapshot(str(tmp_path))
        os.utime(f, ns=(0, before[str(f)][1] + 1_000_000))
        assert measure.bytes_written(before, measure.snapshot(str(tmp_path))) == 8

    def test_snapshot_spans_roots_and_skips_missing(self, tmp_path):
        (tmp_path / "a").mkdir()
        (tmp_path / "a" / "f").write_bytes(b"1234")
        snap = measure.snapshot(str(tmp_path / "a"), str(tmp_path / "missing"))
        assert list(snap.values())[0][0] == 4 and len(snap) == 1


class TestErrorRatio:
    def test_failed_checks_and_errors_count(self):
        def check_fails():
            raise AssertionError("tile min")

        def engine_raises():
            raise RuntimeError("job aborted")

        log = measure.OpLog()
        assert log.attempt("setup", lambda: None)
        assert not log.attempt("op-0", check_fails)
        assert log.attempt("op-1", lambda: None)
        assert not log.attempt("op-2", engine_raises)
        assert (log.attempted, log.failed) == (4, 2)
        assert log.error_ratio == 0.5
        assert log.failures[0].startswith("op-0: AssertionError: tile min")

    def test_all_passing_is_zero_and_nothing_attempted_raises(self):
        log = measure.OpLog()
        log.attempt("op-0", lambda: None)
        assert log.error_ratio == 0.0
        with pytest.raises(ValueError):
            measure.error_ratio(0, 0)


class TestMemoryPreflight:
    def test_default_heap_refused_on_small_machine(self):
        assert measure.parse_mem("64g") == 64 << 30
        assert measure.parse_mem("1536m") == 1536 << 20
        fits, needed = measure.preflight(measure.parse_mem("64g"), 15 << 30)
        assert not fits and needed > 64 << 30
        assert measure.preflight(measure.parse_mem("2g"), 15 << 30)[0]
