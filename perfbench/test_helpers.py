"""Tests for the benchmark's own helpers.

    python3 -m pytest perfbench/test_helpers.py -q

The last test starts Spark and runs the ``bcdr_lifecycle`` set-up twice
(about a minute); the others are pure Python.
"""

from __future__ import annotations

import argparse
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import metrics  # noqa: E402
import stats  # noqa: E402
from spans import Span, Tracer, self_times  # noqa: E402


# -- the tail rule ------------------------------------------------------------
def test_tail_has_ten_samples_beyond_it():
    value, pct, n = stats.tail([float(i) for i in range(1, 101)])
    assert (value, pct, n) == (90.0, 90.0, 100)
    assert sum(v > value for v in range(1, 101)) == 10


def test_tail_keeps_a_quarter_beyond_it_below_forty_samples():
    value, pct, n = stats.tail([float(i) for i in range(1, 13)])
    assert (value, pct, n) == (9.0, 75.0, 12)
    # 40 samples: both rules agree on ten beyond
    assert stats.tail([float(i) for i in range(1, 41)])[:2] == (30.0, 75.0)


def test_tail_ignores_input_order_and_handles_tiny_samples():
    assert stats.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    assert stats.tail([5.0, 1.0, 4.0, 2.0, 3.0, 0.5, 9.0, 8.0]) == (5.0, 75.0, 8)
    with pytest.raises(ValueError):
        stats.tail([])


# -- self time ----------------------------------------------------------------
def _span(i, start, end, parent=None):
    return Span(span_id=i, layer="l", name=f"s{i}", trace_id="t", parent=parent,
                start=start, end=end)


def test_self_time_merges_overlapping_children():
    spans = [
        _span(1, 0.0, 10.0),
        _span(2, 1.0, 4.0, parent=1),
        _span(3, 3.0, 6.0, parent=1),  # overlaps span 2 (a thread)
        _span(4, 8.0, 12.0, parent=1),  # runs past its parent: clipped
        _span(5, 2.0, 3.0, parent=2),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - (5.0 + 2.0))
    assert st[2] == pytest.approx(3.0 - 1.0)
    assert st[3] == pytest.approx(3.0)
    assert st[4] == pytest.approx(4.0)


def test_self_time_of_a_span_covered_twice_is_zero():
    spans = [_span(1, 0.0, 2.0), _span(2, 0.0, 2.0, parent=1), _span(3, 0.5, 1.5, parent=1)]
    assert self_times(spans)[1] == pytest.approx(0.0)


# -- metric names and units ---------------------------------------------------
def test_catalogue_names_and_units_are_valid():
    spec = metrics.spec()
    for kind in ("end_to_end", "per_layer"):
        for m in spec[kind]:
            assert stats.NAME_RE.fullmatch(m["name"]), m
            assert stats.UNIT_RE.fullmatch(m["unit"]), m
            assert m["better"] in ("lower", "higher")
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    assert {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25} in spec["end_to_end"]


def test_metric_rejects_bad_names_units_and_values():
    assert stats.metric("a.b_c-1", 1.5, "1/s") == ("a.b_c-1", {"value": 1.5, "unit": "1/s"})
    for bad in ("", ".x", "a b", "x" * 65, "é"):
        with pytest.raises(ValueError):
            stats.metric(bad, 1.0, "s")
    with pytest.raises(ValueError):
        stats.metric("x", 1.0, "seconds per row!")
    with pytest.raises(ValueError):
        stats.metric("x", float("nan"), "s")


def test_fill_reports_every_layer_metric_and_rejects_unknown_ones():
    filled = metrics.fill({"sync.s": 1.25})
    assert set(filled) == set(metrics.units("per_layer"))
    assert filled["sync.s"] == 1.25 and filled["curation.add_batch_s"] == 0.0
    with pytest.raises(KeyError):
        metrics.fill({"no.such_metric": 1.0})


# -- bytes_per_row repeats exactly on a seeded run ----------------------------
def test_bytes_per_row_repeats_exactly_for_a_seed(tmp_path):
    import run
    import wl_bcdr

    values = []
    spark = None
    for attempt in range(2):
        run_dir = str(tmp_path / f"run{attempt}")
        os.makedirs(os.path.join(run_dir, "tmp"))
        args = argparse.Namespace(seed=7, seconds=1, trace=0)
        ctx = run.Ctx(args, run_dir)
        spark = ctx.spark = spark or run.start_session(ctx)
        ctx.tracer = Tracer(spark)
        wl = wl_bcdr.Lifecycle(ctx, days=1)
        wl.setup()
        wl.commit_day("t", timed=True)
        values.append(wl.bytes_per_row())
        assert ctx.failed == 0
    run.stop_session(spark)
    assert values[0] == values[1]
