"""Tests of the benchmark's own code (no Spark needed).

Run from the checkout root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import layers  # noqa: E402
from measure import Span, layer_self_times, self_times, tail  # noqa: E402


def _digest(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            path = os.path.join(dirpath, fn)
            with open(path, "rb") as f:
                out[os.path.relpath(path, root)] = hashlib.sha256(f.read()).hexdigest()
    return out


def _generate(root: str, seed: int) -> None:
    gen.fixture_tables(seed, os.path.join(root, "fixture"), 0.0005)
    shape = gen.Telemetry(rides=3, deliveries=2, rows=4)
    offsets = gen.delivery_offsets(seed, shape.deliveries)
    for i in range(shape.deliveries):
        gen.land_delivery(
            gen.telemetry_delivery(seed, shape, i), os.path.join(root, "locations"),
            offsets[i], os.path.join(root, "stage"),
        )
    gen.routes_jsonl(seed, os.path.join(root, "routes.jsonl.gz"), gen.Routes(300, 7, 5))


def test_generator_is_byte_identical_per_seed(tmp_path):
    _generate(str(tmp_path / "a"), 7)
    _generate(str(tmp_path / "b"), 7)
    _generate(str(tmp_path / "c"), 8)
    a, b, c = (_digest(str(tmp_path / x)) for x in "abc")
    assert a == b
    assert len(a) == 8 + 2 + 1
    assert len(c) == len(a) and a != c


def test_route_counts_and_probes_follow_the_seed(tmp_path):
    f = gen.routes_jsonl(3, str(tmp_path / "r.jsonl.gz"), gen.Routes(2000, 20, 4))
    assert f.rows == 2000 and 0 < f.valid < f.rows and f.corrupt >= 0
    ports = gen.airports(3, 20)
    assert len({p["iata"] for p in ports}) == 20
    assert gen.probe_points(3, ports, 4) == gen.probe_points(3, ports, 4)


def test_tail_is_the_highest_percentile_with_ten_samples_above():
    values = [float(i) for i in range(1, 101)]  # 1..100
    p, v, n = tail(values)
    assert (p, v, n) == (90.0, 90.0, 100)
    assert sum(x > v for x in values) == 10
    p, v, n = tail([float(i) for i in range(30, 0, -1)])
    assert n == 30 and v == 20.0 and abs(p - 200 / 3) < 1e-12


def test_tail_falls_back_to_the_maximum_when_too_few_samples():
    assert tail([]) == (100.0, 0.0, 0)
    assert tail([3.0, 1.0, 2.0]) == (100.0, 3.0, 3)
    twenty = [float(i) for i in range(20)]
    assert tail(twenty) == (100.0, 19.0, 20)
    p, v, n = tail(twenty + [20.0])
    assert n == 21 and v == 10.0  # the median of 21: ten above it


def _span(i, name, start, end, parent=None):
    return Span(i, name, start, end, parent, "r")


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(0, "queries.exec", 0.0, 10.0),
        _span(1, "tables.scan", 1.0, 3.0, 0),
        _span(2, "tables.scan", 2.0, 5.0, 0),  # overlaps the first child
        _span(3, "tables.scan", 7.0, 8.0, 0),
        _span(4, "tables.scan", 9.5, 12.0, 0),  # clipped to the parent's end
        _span(5, "tables.scan", 1.5, 2.5, 1),  # grandchild: not the parent's child
    ]
    st = self_times(spans)
    assert st[0] == 10.0 - (4.0 + 1.0 + 0.5)
    assert st[1] == 2.0 - 1.0
    assert st[5] == 1.0


def test_layer_self_time_uses_the_longest_layer_prefix():
    spans = [
        _span(0, "stream.trigger", 0.0, 4.0),
        _span(1, "streaming.sinks.merge", 0.0, 1.0, 0),
        _span(2, "streaming.anomaly_stream.add_batch", 1.0, 3.0, 0),
        _span(3, "session", 5.0, 6.0),
    ]
    got = layer_self_times(spans, list(layers.LAYERS))
    assert got["streaming.sinks"] == 1.0
    assert got["streaming.anomaly_stream"] == 2.0
    assert got["session"] == 1.0
    assert got["queries"] == 0.0


def test_benchmark_json_matches_the_catalogue():
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")
    with open(path) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(layers.BENCHMARKED)
    assert spec["end_to_end"] == [
        {"name": m.name, "unit": m.unit, "better": m.better, "bound": m.bound}
        for m in layers.END_TO_END
    ]
    assert spec["per_layer"] == [
        {"name": m.name, "unit": m.unit, "better": m.better} for m in layers.PER_LAYER
    ]
    for w in layers.WORKLOADS:
        generic = layers.WORKLOAD_METRICS[w]["generic"]
        assert set(generic) | {"setup_s", "peak_rss_mb"} == {m.name for m in layers.END_TO_END}
        assert set(generic.values()) <= set(layers.WORKLOAD_METRICS[w]["names"])
    every_name = {n for w in layers.WORKLOAD_METRICS.values() for n in w["names"]}
    for m in layers.PER_LAYER:
        assert set(m.on) <= set(layers.WORKLOADS)
        assert set(m.moves) <= every_name | {"setup_s", "peak_rss_mb", "queries_per_s"} | {
            e.name for e in layers.END_TO_END
        }
