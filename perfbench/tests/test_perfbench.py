"""Tests of the benchmark's own code; no Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import run  # noqa: E402
import workload_lake as wl  # noqa: E402
import workload_retrieval as wr  # noqa: E402
from tracing import SparkWork, Span, Tracer, covered, self_time  # noqa: E402

SCHEMA = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


@pytest.fixture(scope="module")
def schema() -> dict:
    with open(SCHEMA) as f:
        return json.load(f)


# -- inputs are a function of the seed ---------------------------------------


def test_base_tables_repeat_for_a_seed():
    a, b = datagen.base_tables(7), datagen.base_tables(7)
    assert a.keys() == b.keys()
    assert all(a[t].equals(b[t]) for t in a)
    assert not datagen.base_tables(8)["lineitem"].equals(a["lineitem"])


def test_base_tables_have_sf01_sizes():
    t = datagen.base_tables()
    assert {k: v.num_rows for k, v in t.items()} == {"lineitem": 600_000, "documents": 5_000}


def test_workload_inputs_repeat_for_a_seed():
    assert datagen.retrieval_requests(5, 9) == datagen.retrieval_requests(5, 9)
    assert datagen.retrieval_requests(5, 9) != datagen.retrieval_requests(6, 9)
    a, b = (datagen.lake_cycles(5, 2, 1000, 1000, 400, 100) for _ in range(2))
    for x, y in zip(a, b):
        assert x["batch"].equals(y["batch"]) and x["branch"].equals(y["branch"])
        assert (x["delete"], x["update"], x["year"]) == (y["delete"], y["update"], y["year"])


def test_retrieval_mix_is_fixed():
    reqs = datagen.retrieval_requests(11, 9)
    assert sorted(k for k, _ in reqs) == sorted(datagen.QUERY_KINDS * 3)
    assert all(len(set(t.split())) == datagen.QUERY_WORDS for _, t in reqs)


def test_lake_batches_use_fresh_keys():
    cycles = datagen.lake_cycles(3, 3, 1000, 1200, 400, 100)
    lo = 1200
    for c in cycles:
        keys = [*c["batch"]["l_orderkey"].to_pylist(), *c["branch"]["l_orderkey"].to_pylist()]
        assert lo <= min(keys) and max(keys) < c["hi"]
        lo = c["hi"]
        d, u = c["delete"], c["update"]
        assert u[0] <= d[0] <= d[1] <= u[1] < 1000


# -- metric names and units match BENCHMARK.json -----------------------------


def fake_result() -> dict:
    tr = Tracer(enabled=True)
    with tr.span("session.get_spark"):
        pass
    with tr.span("fixture.snapshots.lake_write_seed"):
        pass
    loop, traced = run.Loop(Tracer()), run.Loop(tr)
    for lp in (loop, traced):
        lp.attempted = 3
        lp.latency = {"a": [1.0, 2.0], "b": [3.0]}
    with tr.span("a", op=0):
        with tr.span("plan.a"):
            pass
        with tr.span("exec.a"):
            pass
    traced.work = {"a": [SparkWork(2, 3, 4)]}
    return {"loop": loop, "traced": traced, "tracer": tr, "wall": 6.0, "traced_wall": 6.1, "setup_s": 9.0}


def test_end_to_end_metrics_match_schema(schema):
    got = {k: u for k, (_, u) in run.end_to_end(fake_result()).items()}
    assert got == {m["name"]: m["unit"] for m in schema["end_to_end"]}


def test_per_layer_metrics_match_schema(schema):
    got = {k: u for k, (_, u) in run.per_layer(fake_result()).items()}
    assert got == {m["name"]: m["unit"] for m in schema["per_layer"]}


def test_schema_within_limits(schema):
    assert set(schema) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert 2 <= len(schema["workloads"]) <= 8 and 1 <= schema["run_seconds"] <= 60
    names = [w["name"] for w in schema["workloads"]] + [m["name"] for m in schema["end_to_end"] + schema["per_layer"]]
    assert all(NAME.match(n) for n in names) and len(set(names)) == len(names)
    assert all(w["name"] in run.WORKLOADS and len(w["why"]) <= 200 and "\n" not in w["why"] for w in schema["workloads"])
    for m in schema["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25 and UNIT.match(m["unit"])
    for m in schema["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and UNIT.match(m["unit"])
    setup = next(m for m in schema["end_to_end"] if m["name"] == "setup_s")
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(m["bound"] for m in schema["end_to_end"])


def test_quantile():
    assert run.quantile([5.0], 90) == 5.0
    assert run.quantile([float(i) for i in range(11)], 90) == pytest.approx(9.0)


# -- span arithmetic ---------------------------------------------------------


def test_covered_merges_overlaps():
    assert covered([]) == 0.0
    assert covered([(1.0, 3.0), (2.0, 5.0), (7.0, 8.0)]) == pytest.approx(5.0)
    assert covered([(0.0, 10.0), (2.0, 3.0)]) == pytest.approx(10.0)


def test_self_time_subtracts_covered_children():
    spans = [
        Span("op", 0.0, 10.0, None, 0),
        Span("plan", 1.0, 3.0, 0, 0),
        Span("exec", 2.0, 5.0, 0, 0),
        Span("exec", 7.0, 8.0, 0, 0),
        Span("deep", 7.2, 7.5, 3, 0),  # a grandchild does not count twice
        Span("late", 9.5, 12.0, 0, 0),  # a child outliving its parent is clipped
    ]
    assert self_time(spans, 0) == pytest.approx(10.0 - 5.0 - 0.5)
    assert self_time(spans, 3) == pytest.approx(1.0 - 0.3)
    assert self_time(spans, 1) == pytest.approx(2.0)


def test_tracer_links_parents_and_ops():
    tr = Tracer(enabled=True)
    with tr.span("op", op=4):
        with tr.span("plan"):
            pass
    assert [(s.name, s.parent, s.op) for s in tr.spans] == [("op", None, 4), ("plan", 0, 4)]
    assert all(s.end >= s.start for s in tr.spans)
    off = Tracer()
    with off.span("op", op=1):
        pass
    assert off.spans == []


# -- output checks -----------------------------------------------------------


def test_top_k_accepts_either_side_of_a_tie():
    scores = {"a": 0.9, "b": 0.8, "c": 0.8, "d": 0.1}
    assert wr.top_k_ok(["a", "b"], scores, k=2)
    assert wr.top_k_ok(["c", "a"], scores, k=2)
    assert not wr.top_k_ok(["a", "d"], scores, k=2)
    assert not wr.top_k_ok(["a", "a"], scores, k=2)
    assert not wr.top_k_ok(["a"], scores, k=2)


def test_lake_model_tracks_writes():
    import numpy as np
    import pyarrow as pa

    m = wl.Model(np.array([1, 5, 9]), np.array([1995, 1996, 1995]), np.array([1.0, 2.0, 3.0]))
    m.add(pa.table({"l_orderkey": [12], "ship_year": [1996], "l_quantity": [4.0]}))
    assert m.agg() == (4, 10.0)
    assert m.agg(m.year == 1995) == (2, 4.0)
    assert m.in_range(5, 12).tolist() == [False, True, True, True]
    assert wl.same((4, 10.0), (4, 10.0 + 1e-9)) and not wl.same((3, 10.0), (4, 10.0))


def test_ops_per_run_follow_seconds_only():
    assert len(wr.plan(None, 1, 10).requests) == 15
    assert len(wr.plan(None, 1, 1).requests) == 3
