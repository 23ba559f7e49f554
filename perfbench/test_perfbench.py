"""Self-tests of the benchmark: deterministic inputs, oracles that
reject wrong outputs, and count metrics that repeat exactly.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

SMALL_GRAPH = {"side": 6, "n_od": 8, "way_edges": (1, 1, 3), "n_spurs": 3}


def _frames_equal(a: dict, b: dict) -> bool:
    for k in a:
        if isinstance(a[k], pd.DataFrame):
            try:
                pd.testing.assert_frame_equal(a[k], b[k])
            except AssertionError:
                return False
        elif a[k] != b[k]:
            return False
    return True


def test_generator_is_deterministic_per_seed():
    assert _frames_equal(gen.prep_inputs(7, n_roads=20), gen.prep_inputs(7, n_roads=20))
    assert not _frames_equal(gen.prep_inputs(7, n_roads=20), gen.prep_inputs(8, n_roads=20))
    assert _frames_equal(gen.graph_inputs(7, **SMALL_GRAPH), gen.graph_inputs(7, **SMALL_GRAPH))
    assert not _frames_equal(gen.graph_inputs(7, **SMALL_GRAPH), gen.graph_inputs(8, **SMALL_GRAPH))


def test_prep_inputs_are_consistent():
    x = gen.prep_inputs(3, n_roads=30)
    ways = x["ways"]
    coord_of: dict[str, tuple] = {}
    for nodes, coords in zip(ways["nodes"], ways["coordinates"]):
        assert 2 <= len(nodes) == len(coords) <= 8
        for n, c in zip(nodes, coords):
            assert coord_of.setdefault(n, (c["lon"], c["lat"])) == (c["lon"], c["lat"])
    # consecutive ways of a road share their end node
    for (_, a), (_, b) in zip(ways.iloc[:-1].iterrows(), ways.iloc[1:].iterrows()):
        if a["ROAD_ID"] == b["ROAD_ID"]:
            assert a["nodes"][-1] == b["nodes"][0]
    segs = x["segments"].groupby("way_id").size()
    assert (segs.loc[ways["NAME"]].to_numpy() == ways["nodes"].map(len).to_numpy() - 1).all()
    # every Link_ID decodes (road_id_from_link's rule) to a real ROAD_ID
    roads = set(ways["ROAD_ID"])
    for link in x["bridges_raw"]["Link_ID"]:
        m = re.search(r"([A-Z])0*([1-9][0-9]*)", link[:5])
        assert m and m.group(1) + m.group(2) in roads
    flooded = x["flood_stats"]["way_id"].unique()
    assert set(flooded) <= set(ways["NAME"])
    assert x["sizes"]["ways"] == len(ways) and x["sizes"]["seed"] == 3


def test_graph_inputs_are_consistent():
    x = gen.graph_inputs(5, **SMALL_GRAPH)
    e = x["edges"]
    for _, g in e.groupby("way_id", sort=False):
        # a way's edges form one chain of nodes
        assert list(g["src"].iloc[1:]) == list(g["dst"].iloc[:-1])
    assert np.allclose(e["weight"], e["ruc"] * e["len_part"])
    nodes = set(e["src"]) | set(e["dst"])
    assert set(x["od"]) <= nodes and len(set(x["od"])) == len(x["od"])
    assert set(x["node_coords"]) == nodes
    assert sorted(x["way_props"]["way_id"]) == sorted(e["way_id"].unique())


def _criticality_result(orc: oracle.CriticalityOracle) -> pd.DataFrame:
    rows = [{"way_id": w, **orc.stats(w)} for w in orc.ways]
    r = pd.DataFrame(rows)
    tm = (r["unroutable_pairs"] + r["impacted_pairs"]) * r["avg_time_nonzero"]
    r["score"] = (tm / tm.max() * 0.4 + r["unroutable_pairs"] / r["unroutable_pairs"].max() * 0.6) * 100
    return r


def test_criticality_oracle_rejects_corrupted_score():
    orc = oracle.CriticalityOracle(gen.graph_inputs(2, **SMALL_GRAPH))
    good = _criticality_result(orc)
    assert good["unroutable_pairs"].max() > 0  # spur ways cut pairs off
    assert orc.check(good, orc.ways[:3]) == []
    bad = good.copy()
    bad.loc[5, "score"] += 1e-6
    assert orc.check(bad, []) != []
    bad = good.copy()
    i = int(bad["max_time"].idxmax())
    bad.loc[i, "max_time"] *= 1.001
    assert orc.check(bad, [bad.loc[i, "way_id"]]) != []


def test_eaul_oracle_rejects_corrupted_score():
    # a seed whose flooded ways lie on OD routes, so the baseline is not 0
    x = gen.graph_inputs(1, **SMALL_GRAPH)
    orc = oracle.EaulOracle(x, workloads.UPGRADES)
    keys = [(w, u["id"]) for w in sorted(x["way_props"]["way_id"]) for u in workloads.UPGRADES]
    rows = [("__baseline__", "baseline", orc.baseline)] + [
        (w, u, orc.scenario(w, u)) for w, u in keys
    ]
    good = pd.DataFrame(rows, columns=["way_id", "upgrade_id", "eaul"])
    assert orc.baseline != 0
    assert orc.check(good, keys[:4]) == []
    bad = good.copy()
    bad.loc[2, "eaul"] *= 1.01
    assert orc.check(bad, [tuple(bad.loc[2, ["way_id", "upgrade_id"]])]) != []
    assert orc.check(good.iloc[:-1], []) != []


@pytest.fixture(scope="module")
def spark():
    work = os.path.join(ROOT, ".perfbench_work", f"test-{os.getpid()}")
    run._env(work)
    from moz_datapipeline_spark.session import get_spark

    s = get_spark(app_name="perfbench-tests")
    yield s, work
    run._stop_spark(s)
    shutil.rmtree(work, ignore_errors=True)


def test_prep_oracle_accepts_pipeline_and_rejects_corruption(spark):
    s, work = spark
    wl = workloads.PrepIndicators(11, work)
    wl.SIZES = {"n_roads": 12, "ways_per_road": 10}
    wl.generate()
    wl.load(s)
    out = wl.iterate(s)
    assert wl.verify(out, 0) == []
    net = os.path.join(out, "network")
    f = sorted(p for p in os.listdir(net) if p.endswith(".parquet"))[0]
    t = pq.read_table(os.path.join(net, f)).to_pandas()
    t["aadtScore"] = t["aadtScore"] * 1.001
    t.to_parquet(os.path.join(net, f), index=False)
    problems = wl.verify(out, 0)
    assert any("aadtScore" in p for p in problems), problems


COUNT_METRICS = {
    "prep_indicators": ("session.jobs", "operators.bridges.candidate_pairs",
                        "operators.areas.candidate_pairs"),
    "criticality_sweep": ("session.jobs", "graph.criticality.pandas_stage_runs",
                          "graph.kernel.sssp_runs"),
}


def _traced_run(workload: str) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "4", "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["correct"] and out["failed"] == 0
    return {k: v["value"] for k, v in out["metrics"].items()}


@pytest.mark.parametrize("workload", sorted(COUNT_METRICS))
def test_count_metrics_repeat_between_runs(workload):
    a, b = _traced_run(workload), _traced_run(workload)
    for k in COUNT_METRICS[workload]:
        assert a[k] == b[k] and a[k] > 0, (k, a[k], b[k])
    if workload == "criticality_sweep":
        # the scoring query reads the stats plan twice, so the kernel runs twice
        assert a["graph.criticality.pandas_stage_runs"] == 2


def test_join_rows_follow_adaptive_replans():
    plan = {
        "simpleString": "BroadcastHashJoin [roadID#17], [ROAD_ID#1], Inner, BuildLeft, false",
        "metrics": [{"name": "number of output rows", "accumulatorId": 7}],
        "children": [{"simpleString": "Scan parquet", "metrics": [
            {"name": "number of output rows", "accumulatorId": 8}], "children": []}],
    }
    acc: dict = {}
    tracing._join_row_metrics(plan, acc)
    assert acc == {7: frozenset({"roadID", "ROAD_ID"})}
    counters = {"join_rows": {acc[7]: 12, frozenset({"NAME", "_way"}): 5}}
    assert tracing.join_rows(counters, {"roadID", "ROAD_ID"}) == 12
    assert tracing.join_rows(counters, {"cell"}) is None


def test_tail_percentile():
    assert run.tail([1.0, 2.0, 3.0]) == (2.0, 50.0)
    v, pct = run.tail([float(i) for i in range(20)])
    assert v == 9.0 and pct == 50.0
    v, pct = run.tail([float(i) for i in range(100)])
    assert v == 89.0 and pct == 90.0
