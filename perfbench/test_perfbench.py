"""Unit tests for the benchmark's own arithmetic and metric names.

Run with ``python3 -m pytest perfbench/test_perfbench.py``; no Spark
session is started.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import intervals as iv  # noqa: E402


def test_union_merges_overlapping_and_touching():
    assert iv.union([(5, 6), (0, 2), (1, 3), (3, 4)]) == [(0, 4), (5, 6)]
    assert iv.length([(0, 2), (1, 3), (10, 11)]) == 4


def test_driver_only_is_wall_minus_job_union():
    # jobs overlap each other and stick out of the window on both sides
    jobs = [(-1.0, 1.0), (0.5, 2.0), (4.0, 5.0), (9.0, 12.0)]
    assert iv.idle([(0.0, 10.0)], jobs) == pytest.approx(10 - 2 - 1 - 1)
    assert iv.idle([(0.0, 10.0)], []) == 10.0
    assert iv.idle([(0.0, 10.0)], [(-5.0, 15.0)]) == 0.0


def test_self_time_with_nested_children():
    # parent 0..10; child a 1..4 holds a grandchild 2..3, which must not
    # be subtracted twice; child b 6..8; a child may stick out (threads)
    a, b, grand = (1.0, 4.0), (6.0, 8.0), (2.0, 3.0)
    parent_self = iv.self_intervals((0.0, 10.0), [a, b])
    assert parent_self == [(0.0, 1.0), (4.0, 6.0), (8.0, 10.0)]
    assert iv.length(parent_self) == 5.0
    assert iv.length(iv.self_intervals(a, [grand])) == 2.0
    assert iv.self_intervals((0.0, 2.0), [(1.0, 5.0)]) == [(0.0, 1.0)]
    # self times of the tree add up to the root's wall
    total = iv.length(parent_self) + 2.0 + 1.0 + iv.length(iv.self_intervals(b, []))
    assert total == 10.0


def test_contains_is_half_open():
    window = [(0.0, 1.0), (2.0, 3.0)]
    assert iv.contains(window, 0.0) and not iv.contains(window, 1.0)
    assert not iv.contains(window, 1.5)


def test_percentile_rule_needs_ten_samples_beyond():
    # fewer than 20 samples: the median only
    s = iv.summarize([3.0, 1.0, 2.0])
    assert s == {"n": 3, "p50": 2.0}
    assert "p90" not in iv.summarize([float(i) for i in range(99)])
    # 100 samples: p90 has exactly ten beyond it; p99 has one
    s = iv.summarize([float(i) for i in range(1, 101)])
    assert s["n"] == 100 and s["p90"] == 90.0 and "p99" not in s
    # 1000 samples: p99 qualifies and is preferred over p90
    s = iv.summarize([float(i) for i in range(1, 1001)])
    assert s["p99"] == 990.0 and "p90" not in s
    with pytest.raises(ValueError):
        iv.summarize([])


def test_benchmark_json_names_what_run_reports():
    import run
    import tracing
    import workloads

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    assert {m["name"] for m in spec["end_to_end"]} == set(run.END_TO_END_UNITS)
    traced = {
        **tracing.engine_metrics(0.0, 1.0, [], []),
        **tracing.StreamProgress().metrics(),
        **{f"catalyst.{p}_s": 0.0 for p in tracing.CATALYST_PHASES},
        **tracing.Tracer().layer_metrics([], list(run.SPANS)),
        "trace.wall_s": 0.0,
        "trace.bookkeeping_s": 0.0,
    }
    assert [m["name"] for m in spec["per_layer"]] == sorted(traced)
    for m in spec["per_layer"]:
        assert m["unit"] == run.layer_unit(m["name"]), m["name"]


def test_inputs_follow_the_seed(tmp_path):
    import pyarrow.parquet as pq
    from luad_inputs import LuadSize, write_luad_input
    from workloads import seeded_tables

    def tree(root):
        return {
            name: open(os.path.join(root, name), "rb").read()
            for name in sorted(os.listdir(root))
            if name != "input.txt"  # holds absolute paths
        }

    size = LuadSize(train=4, predict=2, probes_per_type=20)
    a = write_luad_input(str(tmp_path / "a"), 7, size)
    b = write_luad_input(str(tmp_path / "b"), 7, size)
    c = write_luad_input(str(tmp_path / "c"), 8, size)
    assert tree(tmp_path / "a") == tree(tmp_path / "b") != tree(tmp_path / "c")
    assert a.truth == b.truth and set(a.truth.values()) == {1.0, -1.0}

    def rows(root, seed):
        d = seeded_tables(str(tmp_path / root), seed, ("documents",))
        return pq.read_table(os.path.join(d, "documents.parquet")).to_pylist()

    r1, r1b, r2 = rows("s1", 1), rows("s1b", 1), rows("s2", 2)
    assert r1 == r1b and r1 != r2
    key = lambda r: r["doc_id"]  # noqa: E731
    assert sorted(r1, key=key) == sorted(r2, key=key)
