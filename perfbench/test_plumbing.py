"""Self-tests for the benchmark's own plumbing (no Spark, a few seconds).

  python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import types

import numpy as np
import pytest

import harness
import run
from kernel_ref import witness
from tracing import Span, Tracer, iteration_breakdown, patched, self_times


class FakeClock:
    def __init__(self):
        self.now = 0.0

    def __call__(self):
        return self.now


def test_self_time_subtracts_direct_children_only():
    spans = [
        Span(1, "root", 0.0, None, 0, 10.0),
        Span(2, "a", 1.0, 1, 0, 5.0),
        Span(3, "a.child", 2.0, 2, 0, 3.5),
        Span(4, "b", 6.0, 1, 0, 9.0),
    ]
    st = self_times(spans)
    assert st == {1: 10.0 - 4.0 - 3.0, 2: 4.0 - 1.5, 3: 1.5, 4: 3.0}
    layers, wall, coverage = iteration_breakdown(spans, 0)
    assert wall == 10.0
    assert layers == {"a": 2.5, "a.child": 1.5, "b": 3.0}
    assert coverage == pytest.approx(0.7)


def test_tracer_nests_and_closes_trailing_spans():
    clock = FakeClock()
    tr = Tracer(clock)
    tr.iteration = 3
    with tr.span("root"):
        clock.now = 1.0
        with tr.span("eager"):
            clock.now = 2.0
        tr.begin("lazy")  # stays open until the next span starts
        clock.now = 5.0
        with tr.span("next"):
            clock.now = 6.0
        tr.begin("tail")  # closed when its parent ends
        clock.now = 8.0
    by_name = {s.name: s for s in tr.spans}
    assert (by_name["lazy"].start, by_name["lazy"].end) == (2.0, 5.0)
    assert (by_name["tail"].start, by_name["tail"].end) == (6.0, 8.0)
    root = by_name["root"].id
    assert all(by_name[n].parent == root for n in ("eager", "lazy", "next", "tail"))
    assert all(s.iteration == 3 for s in tr.spans)
    layers, wall, coverage = iteration_breakdown(tr.spans, 3)
    assert wall == 8.0 and coverage == pytest.approx(7.0 / 8.0)
    assert layers == {"eager": 1.0, "lazy": 3.0, "next": 1.0, "tail": 2.0}


def test_generator_spans_time_only_the_producer():
    clock = FakeClock()
    tr = Tracer(clock)

    def produce():
        for v in range(3):
            clock.now += 1.0  # work inside the generator
            yield v

    got = []
    with tr.span("root"):
        for v in tr.generator("gen", produce()):
            clock.now += 10.0  # work in the consumer, not the generator
            got.append(v)
    assert got == [0, 1, 2]
    layers, wall, _ = iteration_breakdown(tr.spans, None)
    assert layers == {"gen": 3.0}
    assert wall == 33.0


def test_patched_restores_attributes_even_on_error():
    owner = types.SimpleNamespace(f=lambda: "orig")
    with pytest.raises(RuntimeError):
        with patched([(owner, "f", lambda orig: lambda: "wrapped " + orig())]):
            assert owner.f() == "wrapped orig"
            raise RuntimeError
    assert owner.f() == "orig"


@pytest.mark.parametrize("name", ["wall_s", "kernel.spill_rows", "registry.q_knn.build_s", "9-x"])
def test_metric_name_charset_accepts(name):
    assert harness.NAME_RE.match(name)


@pytest.mark.parametrize("name", ["", "_x", ".x", "a b", "a/b", "é", "x" * 65])
def test_metric_name_charset_rejects(name):
    assert not harness.NAME_RE.match(name)


@pytest.mark.parametrize("unit,ok", [("s", True), ("rows/s", True), ("%", True), ("MB", True),
                                     ("", False), ("rows per s", False), ("x" * 17, False)])
def test_unit_charset(unit, ok):
    assert bool(harness.UNIT_RE.match(unit)) == ok


def test_manifest_meets_the_contract():
    with open(harness.MANIFEST) as f:
        raw = f.read()
    assert len(raw.encode()) <= 64 * 1024
    doc = json.loads(raw)
    assert set(doc) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert doc["command"][:2] == ["python3", "perfbench/run.py"]
    assert doc["paths"] == ["perfbench"]
    assert isinstance(doc["run_seconds"], int) and 1 <= doc["run_seconds"] <= 60
    names = [w["name"] for w in doc["workloads"]]
    assert 2 <= len(names) <= 8
    assert all(set(w) == {"name", "why"} and len(w["why"]) <= 200 for w in doc["workloads"])
    assert set(names) <= set(run.WORKLOADS)
    e2e, layers = doc["end_to_end"], doc["per_layer"]
    assert all(set(m) == {"name", "unit", "better", "bound"} for m in e2e)
    assert all(set(m) == {"name", "unit", "better"} for m in layers)
    all_names = names + [m["name"] for m in e2e + layers]
    assert all(harness.NAME_RE.match(n) for n in all_names)
    assert len(set(all_names)) == len(all_names)
    harness.check_metric_specs(e2e + layers)
    bounds = {m["name"]: m["bound"] for m in e2e}
    assert all(0 < b <= 0.25 for b in bounds.values())
    setup = next(m for m in e2e if m["name"] == "setup_s")
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert bounds["setup_s"] == max(bounds.values())


SPECS = [
    {"name": "wall_s", "unit": "s", "better": "lower"},
    {"name": "kernel.spill_rows", "unit": "rows", "better": "lower"},
]


def test_summary_shape_and_zero_fill():
    out = harness.summary(SPECS, {"wall_s": 1.25}, attempted=3, failed=0)
    assert list(out) == ["correct", "attempted", "failed", "metrics"]
    assert out["correct"] is True and out["attempted"] == 3 and out["failed"] == 0
    assert out["metrics"] == {
        "wall_s": {"value": 1.25, "unit": "s"},
        "kernel.spill_rows": {"value": 0, "unit": "rows"},
    }
    assert json.loads(json.dumps(out)) == out
    assert harness.summary(SPECS, {}, attempted=2, failed=1)["correct"] is False


def test_summary_rejects_missing_unknown_and_bad_values():
    with pytest.raises(ValueError, match="did not measure"):
        harness.summary(SPECS, {}, attempted=1, failed=0, required={"wall_s"})
    with pytest.raises(ValueError, match="not declared"):
        harness.summary(SPECS, {"wal_s": 1.0}, attempted=1, failed=0)
    with pytest.raises(TypeError):
        harness.summary(SPECS, {"wall_s": "1.0"}, attempted=1, failed=0)
    with pytest.raises(ValueError):
        harness.summary(SPECS, {}, attempted=0, failed=0)
    with pytest.raises(ValueError, match="repeated"):
        harness.summary(SPECS + SPECS[:1], {}, attempted=1, failed=0)


def test_supported_percentile_needs_ten_samples_beyond():
    assert harness.supported_percentile([1.0] * 20) is None
    got = harness.supported_percentile([float(i) for i in range(40)])
    assert got["p"] == 75 and sum(v > got["value"] for v in range(40)) >= 10


def test_kernel_witness_sees_order_and_content():
    rng = np.random.default_rng(0)
    rows = rng.integers(0, 10_000, size=(1000, 4))
    srt = rows[np.lexsort(rows.T[::-1])]
    n, parity, inv = witness([srt[:, i] for i in range(4)])
    assert n == 1000 and inv == 0
    assert witness([rows[:, i] for i in range(4)])[1] == parity
    assert witness([rows[:, i] for i in range(4)])[2] > 0
    changed = srt.copy()
    changed[5, 2] ^= 1
    assert witness([changed[:, i] for i in range(4)])[1] != parity
