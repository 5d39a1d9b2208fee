"""Tests of the benchmark itself; they start no Spark session.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]

import generators as gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads as wl  # noqa: E402

with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _same(a, b) -> bool:
    """Deep equality of generated inputs (dicts of arrays and lists)."""
    if isinstance(a, dict):
        return isinstance(b, dict) and a.keys() == b.keys() and all(_same(a[k], b[k]) for k in a)
    if isinstance(a, np.ndarray):
        return np.array_equal(a, b)
    return a == b


@pytest.mark.parametrize("name", sorted(wl.WORKLOADS))
def test_generators_are_deterministic_for_a_seed(name):
    make = wl.WORKLOADS[name].generate
    a, b, c = make(7), make(7), make(8)
    assert _same(a, b)
    assert not _same(a, c)


def test_workloads_match_benchmark_json():
    assert [w["name"] for w in SPEC["workloads"]] == list(wl.WORKLOADS)


class _Tracker:
    """statusTracker stand-in: every job group ran one 2-task stage."""

    def __init__(self):
        self.groups = {}

    def getJobIdsForGroup(self, group):
        return self.groups.get(group, [])

    def getJobInfo(self, jid):
        return type("J", (), {"stageIds": [jid]})

    def getStageInfo(self, sid):
        return type("S", (), {"numCompletedTasks": 2, "numFailedTasks": 0})


class _Context:
    def __init__(self):
        self.props, self.tracker, self.next_job = {}, _Tracker(), 0

    def getLocalProperty(self, key):
        return self.props.get(key)

    def setLocalProperty(self, key, value):
        self.props[key] = value

    def setJobGroup(self, group, desc):
        self.props[spans.GROUP_KEY] = group
        # one job per span entry, as if the body ran one action
        self.tracker.groups.setdefault(group, []).append(self.next_job)
        self.next_job += 1

    def statusTracker(self):
        return self.tracker


def test_every_named_metric_appears_with_a_unit():
    sc = _Context()
    tracer = spans.Tracer(sc)
    slices, deltas = [], []
    for _ in range(2):
        lo, _ = tracer.mark()
        with tracer.span("detection.fit"):
            with tracer.span("detection.cluster"):
                pass
            with tracer.span("llk.driver", spark=False):
                pass
        slices.append((lo, tracer.mark()[0]))
        deltas.append({})
    kernel_lo = len(tracer.spans)
    with tracer.span("windowing.chop"):
        pass
    kernel_names = {"windowing.chop_s", "genesess.kernel_s", "llk.kernel_symbols_per_s"}
    metrics, repeats = run.layer_metrics(tracer, slices, deltas, kernel_lo, dict.fromkeys(kernel_names, 1.0))
    metrics["trace.overhead_frac"] = 0.01
    per_layer = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert set(metrics) == set(per_layer)
    assert metrics["detection.fit.jobs"] == 2 and metrics["detection.cluster.jobs"] == 1
    assert metrics["windowing.chop.jobs"] == 1 and "windowing.chop.jobs" not in repeats
    assert all(repeats.values()) and metrics["trace.counts_repeat_frac"] == 1.0

    e2e = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    line = run.result_line(run.OpLog(), dict.fromkeys(e2e, 1.0), e2e)
    assert {k: v["unit"] for k, v in line["metrics"].items()} == e2e
    with pytest.raises(KeyError):
        run.result_line(run.OpLog(), {}, e2e)


def test_self_time_subtracts_child_spans():
    S = spans.Span
    tree = [S("a", 0.0, None, False, end=10.0), S("b", 1.0, 0, False, end=4.0),
            S("c", 3.0, 0, False, end=6.0), S("d", 3.5, 2, False, end=5.0)]
    out = spans.summarize(tree)
    assert out["a"]["self_s"] == pytest.approx(5.0)  # children cover [1, 6]
    assert out["c"]["self_s"] == pytest.approx(1.5)


def _discover_verdicts():
    regime = gen.discover_inputs(3)["regime"]
    pred = pd.DataFrame({
        "seq_id": np.arange(len(regime)),
        "anomaly": regime < 0,
        "closest_match": np.where(regime < 0, 0, regime).astype(int),
    })
    return pred, regime


def test_a_wrong_verdict_raises_error_rate():
    pred, regime = _discover_verdicts()
    log = run.OpLog()
    log.attempt(lambda: (1.0, wl.check_discover(pred, 3, regime)))
    assert log.error_rate == 0.0
    wrong = pred.copy()
    wrong.loc[np.nonzero(regime < 0)[0][0], "anomaly"] = False  # a planted series passes
    log.attempt(lambda: (1.0, wl.check_discover(wrong, 3, regime)))
    assert log.failed == 1 and log.error_rate == 0.5


def test_oracle_check_catches_a_flipped_verdict():
    from patternly_spark.pfsa.llk import llk_one
    from patternly_spark.pfsa.model import PFSA

    lib = [PFSA(pitilde=gen.STICKY, connx=np.tile(np.arange(3), (3, 1)), pfsa_id=0),
           PFSA(pitilde=gen.FORWARD, connx=np.tile(np.arange(3), (3, 1)), pfsa_id=1)]
    rng = np.random.default_rng(0)
    syms = {0: gen.walk(gen.STICKY, 1, 200, rng)[0], 1: gen.walk(gen.UNIFORM, 1, 200, rng)[0]}
    bounds = np.array([0.8, 0.8])
    closest_of_uniform = int(np.argmin([llk_one(syms[1], m) for m in lib]))
    pred = pd.DataFrame({"seq_id": [0, 1], "anomaly": [False, True], "closest_match": [0, closest_of_uniform]})
    assert wl.check_oracle(pred, syms, lib, bounds) == []
    pred.loc[0, "anomaly"] = True
    assert wl.check_oracle(pred, syms, lib, bounds)


def test_stream_and_graph_checks_catch_wrong_outputs():
    assert wl.check_stream([0, 4, 8], [0, 4, 8], None) == []
    assert wl.check_stream([0, 8], [0, 4, 8], None)
    assert wl.check_stream([0, 4, 8], [0, 4, 8], [0, 4, 8, 9])

    g = gen.graph_inputs(2)
    expected = wl.union_find_components(g["src"][:200], g["dst"][:200])
    cc = pd.DataFrame({"node": list(expected), "component": list(expected.values())})
    assert wl.check_graph(cc, expected, {"x": "1"}, {"x": "1"}) == []
    assert wl.check_graph(cc, expected, {"x": "1"}, {"x": "2"})
    bad = cc.copy()
    bad.loc[0, "component"] += 1
    assert wl.check_graph(bad, expected, {}, None)


def test_stream_boundaries_fall_on_window_starts():
    s = gen.stream_inputs(5)
    w = gen.WINDOW
    assert len(s["symbols"]) % w == 0
    assert s["boundaries"] == [i * len(s["symbols"]) // w // len(gen.STREAM_REGIMES)
                               for i in range(len(gen.STREAM_REGIMES))]
