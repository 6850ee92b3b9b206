"""Tests for the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
from datetime import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import datagen, stats  # noqa: E402
from perfbench.trace import Recorder, Span, covered, self_times  # noqa: E402


# ---------------------------------------------------------------- percentile


def test_percentile_needs_ten_samples_beyond_it():
    with pytest.raises(ValueError):
        stats.percentile(list(range(19)), 50)
    assert stats.percentile(list(range(20)), 50) == pytest.approx(9.5)
    with pytest.raises(ValueError):
        stats.percentile(list(range(99)), 90)
    assert stats.percentile(list(range(100)), 90) == pytest.approx(89.1)


def test_percentile_interpolates_and_ignores_order():
    vals = [float(v) for v in range(1, 101)]
    assert stats.percentile(vals[::-1], 50) == pytest.approx(50.5)
    assert stats.percentile(vals, 90) == pytest.approx(90.1)
    with pytest.raises(ValueError):
        stats.percentile(vals, 100)


def test_median_of_whole_measurements():
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
    with pytest.raises(ValueError):
        stats.median([])


# ---------------------------------------------------------------- self time


def _span(sid, parent, start, end, op="a"):
    return Span(sid, parent, op, f"s{sid}", start, end)


def test_self_time_nested_children():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 4.0),
        _span(3, 2, 2.0, 3.0),
        _span(4, 1, 5.0, 6.0),
    ]
    st = self_times(spans)
    assert st == pytest.approx({1: 6.0, 2: 2.0, 3: 1.0, 4: 1.0})
    assert sum(st.values()) == pytest.approx(10.0)


def test_self_time_overlapping_children_counted_once():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 5.0),
        _span(3, 1, 3.0, 7.0),  # overlaps span 2 on [3, 5]
        _span(4, 1, 6.5, 8.0),
    ]
    assert self_times(spans)[1] == pytest.approx(10.0 - 7.0)


def test_self_time_clips_children_to_parent():
    assert covered(2.0, 4.0, [(0.0, 3.0), (3.5, 9.0)]) == pytest.approx(1.5)
    assert covered(0.0, 1.0, [(2.0, 3.0)]) == 0.0


def test_recorder_root_self_time_is_the_uncovered_part(monkeypatch):
    from perfbench import trace

    clock = [0.0]
    monkeypatch.setattr(trace.time, "perf_counter", lambda: clock[0])
    rec = Recorder()

    class Thing:
        def outer(self):
            self.inner()
            clock[0] += 0.5  # outer's own work
            self.inner()

        def inner(self):
            clock[0] += 1.0

    rec.wrap_class(Thing, "thing")
    with rec.span("op.test", op="op1"):
        clock[0] += 0.25  # the op's own code, outside any traced call
        Thing().outer()
    with rec.span("op.other", op="op2"):
        clock[0] += 3.0
    rec.uninstall()
    names = sorted(s.name for s in rec.spans)
    assert names == ["op.other", "op.test", "thing.inner", "thing.inner", "thing.outer"]
    assert {s.op for s in rec.spans} == {"op1", "op2"}
    assert rec.uncovered({"op1"}) == pytest.approx([(0.25, 2.75)])
    assert rec.self_by_name()["thing.outer"] == pytest.approx([0.5])
    assert Thing.outer.__name__ == "outer" and not hasattr(Thing.outer, "__wrapped__")


# ---------------------------------------------------------------- oracle


def test_oracle_row_count_lookup(tmp_path):
    pytest.importorskip("duckdb")
    from perfbench.query_mix import oracle_rows

    datagen.write(str(tmp_path), 0.001, 3)
    ship = [datetime(1996, 1, 1), datetime(1997, 1, 1), datetime(1997, 6, 1), datetime(1999, 1, 1)]
    lineitem = pa.table(
        {
            "l_orderkey": pa.array([0, 1, 2, 3], pa.int64()),
            "l_partkey": pa.array([0, 0, 0, 0], pa.int64()),
            "l_suppkey": pa.array([0, 0, 0, 0], pa.int64()),
            "l_linenumber": pa.array([1, 1, 1, 1], pa.int32()),
            "l_quantity": [1.0, 2.0, 3.0, 4.0],
            "l_extendedprice": [10.0, 20.0, 30.0, 40.0],
            "l_discount": [0.0, 0.0, 0.0, 0.0],
            "l_tax": [0.0, 0.0, 0.0, 0.0],
            "l_returnflag": ["A", "A", "N", "R"],
            "l_linestatus": ["F", "F", "O", "F"],
            "l_shipdate": pa.array(ship, pa.timestamp("us")),
        }
    )
    pq.write_table(lineitem, tmp_path / "lineitem.parquet")
    # q1 groups rows shipped by 1998-09-02 by (returnflag, linestatus):
    # (A, F) and (N, O); the (R, F) row ships too late
    assert oracle_rows(str(tmp_path), ["q1_pricing_summary"]) == {"q1_pricing_summary": 2}


# ---------------------------------------------------------------- inputs


def test_datagen_is_a_function_of_the_seed():
    a, b, c = datagen.tables(0.001, 7), datagen.tables(0.001, 7), datagen.tables(0.001, 8)
    assert a.keys() == b.keys()
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == 6000 and a["documents"].num_rows == 500


def test_benchmark_json_declares_every_query_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    from elastic_stream_spark.operators import all_queries
    from perfbench.query_mix import OPS, QUERIES

    qs = all_queries()
    names = {m["name"] for m in spec["per_layer"]}
    assert {f"query.{q}.s" for q in OPS} <= names
    assert {f"operators.{qs[q].__module__.rsplit('.', 1)[1]}.s" for q in QUERIES} <= names
    assert {m["name"] for m in spec["end_to_end"]} == {"setup_s", "op_ms_p50", "throughput_per_s"}
