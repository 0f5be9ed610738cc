"""Tests of the benchmark's own helpers (no Spark needed):

    python3 -m pytest enginebench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from benchlib import (  # noqa: E402
    Span, Tracer, check_metric_names, quartile_spread, self_time_table,
    self_times, tail, tail_rule, valid_metric_name,
)

ROOT = os.path.dirname(os.path.dirname(HERE))


# ------------------------------------------------------ tail percentile

def test_tail_rule_leaves_exactly_ten_samples_beyond():
    samples = list(range(1, 101))            # 1..100
    value, pct = tail_rule(samples)
    assert value == 90
    assert sum(s > value for s in samples) == 10
    assert pct == 90.0


def test_tail_rule_ignores_input_order():
    samples = [float(x) for x in range(50)]
    shuffled = samples[25:] + samples[:25]
    assert tail_rule(shuffled) == tail_rule(samples) == (39.0, 80.0)


def test_tail_rule_needs_more_than_ten_samples():
    assert tail_rule([1.0] * 10) is None
    assert tail_rule(list(range(11))) == (0, 100 / 11)


def test_tail_falls_back_to_max_below_the_median():
    # 15 samples: the rule could only name the 33rd percentile
    s = [float(x) for x in range(15)]
    t = tail(s)
    assert t == {"value": 14.0, "percentile": 100.0, "n": 15,
                 "rule_met": False}
    # 20 samples: the rule lands exactly on the median, and is used
    s = [float(x) for x in range(20)]
    t = tail(s)
    assert t["rule_met"] and t["value"] == 9.0 and t["percentile"] == 50.0


def test_quartile_spread_matches_statistics_quantiles():
    vals = [10.0, 11.0, 9.0, 10.5, 9.5, 10.0, 10.2, 9.8, 10.1, 9.9]
    import statistics
    q1, _, q3 = statistics.quantiles(vals, n=4)
    assert quartile_spread(vals) == pytest.approx(
        (q3 - q1) / statistics.median(vals))


# ------------------------------------------------------------ self time

def _span(sid, start, end, parent=None, name=None):
    return Span(sid, name or f"s{sid}", start, end, parent)


def test_self_time_without_children_is_duration():
    assert self_times([_span(0, 1.0, 3.5)]) == {0: 2.5}


def test_self_time_subtracts_nested_children():
    spans = [_span(0, 0.0, 10.0),
             _span(1, 1.0, 4.0, parent=0),
             _span(2, 2.0, 3.0, parent=1),      # grandchild: only span 1's
             _span(3, 6.0, 7.0, parent=0)]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 3.0 - 1.0)
    assert st[1] == pytest.approx(3.0 - 1.0)
    assert st[2] == pytest.approx(1.0)
    assert st[3] == pytest.approx(1.0)


def test_self_time_counts_overlapping_children_once():
    spans = [_span(0, 0.0, 10.0),
             _span(1, 1.0, 5.0, parent=0),
             _span(2, 3.0, 6.0, parent=0),      # overlaps span 1 on [3, 5]
             _span(3, 5.5, 5.8, parent=0)]      # inside span 2
    assert self_times(spans)[0] == pytest.approx(10.0 - 5.0)


def test_self_time_clips_children_to_the_parent():
    spans = [_span(0, 2.0, 4.0), _span(1, 1.0, 3.0, parent=0)]
    assert self_times(spans)[0] == pytest.approx(1.0)


def test_self_time_table_groups_by_name():
    spans = [_span(0, 0.0, 4.0, name="job"),
             _span(1, 1.0, 2.0, parent=0, name="commit"),
             _span(2, 5.0, 6.0, name="job"),
             _span(3, 5.0, 5.5, parent=2, name="commit")]
    rows = {r["name"]: r for r in self_time_table(spans)}
    assert rows["job"]["count"] == 2
    assert rows["job"]["total_s"] == pytest.approx(5.0)
    assert rows["job"]["self_s"] == pytest.approx(3.5)
    assert rows["commit"]["self_s"] == pytest.approx(1.5)


def test_tracer_nests_spans_and_writes_them(tmp_path):
    tr = Tracer("w", enabled=True)
    with tr.span("outer"):
        with tr.span("inner", k=1):
            pass
    outer, inner = tr.spans
    assert inner.parent == outer.sid and outer.parent is None
    assert outer.start <= inner.start <= inner.end <= outer.end
    path = tmp_path / "t.jsonl"
    tr.write(str(path))
    rows = [json.loads(line) for line in path.read_text().splitlines()]
    assert [r["name"] for r in rows] == ["outer", "inner"]
    assert rows[1]["k"] == 1 and rows[1]["workload"] == "w"


def test_disabled_tracer_records_nothing():
    tr = Tracer("w", enabled=False)
    with tr.span("x"):
        pass
    assert tr.spans == []


# ------------------------------------------------------ metric names

@pytest.mark.parametrize("name", [
    "setup_s", "codecs.fsst2.encode_mbps", "a", "9lives", "x-y.z_1",
    "m" * 64])
def test_valid_metric_names(name):
    assert valid_metric_name(name)


@pytest.mark.parametrize("name", [
    "", "_lead", ".lead", "-lead", "has space", "slash/name", "ü",
    "m" * 65, "semi;colon", None, 3])
def test_invalid_metric_names(name):
    assert not valid_metric_name(name)


def test_check_metric_names_rejects_bad_and_repeated():
    check_metric_names(["a", "b.c"])
    with pytest.raises(ValueError, match="invalid"):
        check_metric_names(["a", "b c"])
    with pytest.raises(ValueError, match="twice"):
        check_metric_names(["a", "a"])


def test_benchmark_json_metric_names_are_valid():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    check_metric_names([m["name"] for m in spec["end_to_end"]]
                       + [m["name"] for m in spec["per_layer"]]
                       + [w["name"] for w in spec["workloads"]])
