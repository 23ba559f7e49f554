"""criticality_scores runs its way-removal fan-out exactly once, when
called, and scores on the driver (criticality.js:96-110).

- the returned DataFrame carries no Python-UDF node, so every action
  on it reuses the collected stats instead of re-running the kernel;
- every way's stats and score match an independent driver-side
  reference that masks each way in turn and re-routes ALL OD pairs
  (no tree pruning, no incremental recompute);
- a degenerate OD set with no active way scores 0.0, never NaN, and
  keeps the count columns ``long``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark import SparkContext
from test_routing_fixture import OD_NODES, edges_pdf

from moz_datapipeline_spark.graph.criticality import criticality_scores
from moz_datapipeline_spark.graph.kernel import build_graph, pair_costs

COLUMNS = [
    ("way_id", "string"),
    ("max_time", "double"),
    ("avg_time", "double"),
    ("avg_time_nonzero", "double"),
    ("unroutable_pairs", "bigint"),
    ("impacted_pairs", "bigint"),
    ("score", "double"),
]
PYTHON_NODES = (
    "FlatMapGroupsInPandas",
    "MapInPandas",
    "ArrowEvalPython",
    "BatchEvalPython",
    "PythonUDF",
    "FlatMapCoGroupsInPandas",
)


def grid_edges(seed: int, side: int = 5, n_spurs: int = 3) -> pd.DataFrame:
    """Seeded ``side``×``side`` grid: row ways of two edges, column ways
    of one edge, random weights, plus two-edge dead-end spurs (on no OD
    route, so always pruned)."""
    rng = np.random.default_rng(seed)
    rows = []

    def node(r, c):
        return f"{r}_{c}"

    for r in range(side):
        for c in range(side - 1):
            way = f"h{r}_{c // 2}"
            rows.append((way, node(r, c), node(r, c + 1), rng.uniform(1, 3)))
    for r in range(side - 1):
        for c in range(side):
            rows.append((f"v{r}_{c}", node(r, c), node(r + 1, c), rng.uniform(1, 3)))
    for k in range(n_spurs):
        anchor = node(int(rng.integers(side)), int(rng.integers(side)))
        rows.append((f"s{k}", anchor, f"s{k}a", rng.uniform(1, 3)))
        rows.append((f"s{k}", f"s{k}a", f"s{k}b", rng.uniform(1, 3)))
    return pd.DataFrame(rows, columns=["way_id", "src", "dst", "weight"])


def reference_scores(edges: pd.DataFrame, od_ids: list[str]) -> pd.DataFrame:
    """Per-way stats and score, pair by pair as in criticality.js:232-303
    and 96-110, from a full re-route of every OD pair per removed way."""
    g = build_graph(edges)
    index = {n: i for i, n in enumerate(g.node_ids)}
    od = np.array([index[n] for n in od_ids], dtype=np.int64)
    bench = pair_costs(g, od)
    pairs = [(i, j) for i in range(len(od)) for j in range(i + 1, len(od))]
    out = []
    for w in sorted(set(edges["way_id"])):
        mat = pair_costs(g, od, edge_mask=g.way_id != w)
        unroutable, impacted, deltas = 0, 0, []
        for i, j in pairs:
            if np.isinf(mat[i, j]):
                unroutable += 1
                continue
            d = float(mat[i, j] - bench[i, j])
            if d < 0:
                unroutable += 1
                continue
            deltas.append(d)
            impacted += d > 0
        nonzero = sum(1 for d in deltas if d != 0)
        out.append({
            "way_id": w,
            "max_time": max(deltas, default=0.0),
            "avg_time": sum(deltas) / len(deltas) if deltas else 0.0,
            "avg_time_nonzero": sum(deltas) / nonzero if nonzero else 0.0,
            "unroutable_pairs": unroutable,
            "impacted_pairs": impacted,
        })
    ref = pd.DataFrame(out)
    weighted = (ref.unroutable_pairs + ref.impacted_pairs) * ref.avg_time_nonzero
    max_weighted = weighted.max()
    max_unroutable = ref.unroutable_pairs.max()
    time_score = weighted / max_weighted if max_weighted > 0 else 0.0
    unroutable_score = (
        ref.unroutable_pairs / max_unroutable if max_unroutable > 0 else 0.0
    )
    ref["score"] = (time_score * 0.4 + unroutable_score * 0.6) * 100.0
    return ref.set_index("way_id")


def _schema(df) -> list[tuple[str, str]]:
    return [(f.name, f.dataType.simpleString()) for f in df.schema]


def test_result_plan_has_no_python_node(spark):
    df = criticality_scores(spark, edges_pdf(), OD_NODES)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for name in PYTHON_NODES:
        assert name not in plan, plan
    assert _schema(df) == COLUMNS


def test_two_actions_agree(spark):
    df = criticality_scores(spark, edges_pdf(), OD_NODES)
    n = df.count()
    pdf = df.toPandas()
    assert n == len(pdf) == len(edges_pdf())
    assert pdf["score"].notna().all()


def test_context_broadcast_destroyed(spark, monkeypatch):
    made = []
    broadcast = SparkContext.broadcast

    def spy(self, value):
        bv = broadcast(self, value)
        made.append(bv)
        return bv

    monkeypatch.setattr(SparkContext, "broadcast", spy)
    criticality_scores(spark, edges_pdf(), OD_NODES)
    assert made
    assert not any(bv._jbroadcast.isValid() for bv in made)


@pytest.mark.parametrize("seed", [3, 11])
def test_scores_match_full_mask_reference(spark, seed):
    edges = grid_edges(seed)
    nodes = sorted(set(edges.src) | set(edges.dst))
    grid_nodes = [n for n in nodes if not n.startswith("s")]
    rng = np.random.default_rng(seed + 100)
    od = [grid_nodes[int(i)] for i in rng.choice(len(grid_nodes), 6, replace=False)]

    ref = reference_scores(edges, od)
    df = criticality_scores(spark, edges, od, n_partitions=3)
    assert _schema(df) == COLUMNS
    got = df.toPandas().set_index("way_id").sort_index()
    assert sorted(got.index) == sorted(ref.index)
    assert not got.index.duplicated().any()

    ref = ref.loc[got.index]
    pruned = ref[(ref.unroutable_pairs == 0) & (ref.impacted_pairs == 0)].index
    assert {"s0", "s1", "s2"} <= set(pruned)  # spurs carry no OD route
    assert (ref.score > 0).any()
    for col in ("unroutable_pairs", "impacted_pairs"):
        assert got[col].tolist() == ref[col].tolist(), col
    for col in ("max_time", "avg_time", "avg_time_nonzero", "score"):
        assert got[col].to_numpy() == pytest.approx(
            ref[col].to_numpy(), rel=1e-12, abs=1e-12
        ), col


def test_no_active_way_scores_zero(spark):
    """A single OD point has no pair to route: every way is pruned, both
    maxima are 0, and the score is 0.0 rather than 0/0."""
    edges = grid_edges(5)
    df = criticality_scores(spark, edges, ["2_2"])
    assert _schema(df) == COLUMNS
    got = df.toPandas()
    assert len(got) == edges.way_id.nunique()
    assert got["score"].notna().all()
    assert (got["score"] == 0.0).all()
    assert (got[["unroutable_pairs", "impacted_pairs"]] == 0).all().all()
