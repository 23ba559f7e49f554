"""Criticality: leave-one-out time-penalty scenario engine.

Reference: scripts/criticality/criticality.js. For each way, remove it
from the network, recompute the OD cost table, diff against the
benchmark, and fold per-way stats (criticality.js:232-303); score =
(0.4·timeScore + 0.6·unroutableScore)·100 (criticality.js:96-110).

Spark shape: a scenarios DataFrame (one row per active way) fanned out
through ``applyInPandas`` in exactly one pass; the graph + benchmark are
computed once on the driver and shipped as one broadcast — the
reference's per-way osrm-contract (criticality.js:197-225) becomes a
boolean edge mask. The per-way stats (one small row per way) are
collected once, and the final scoring — two maxima over all ways, then
the per-way formula (criticality.js:96-110) — runs in pandas on the
driver. The returned DataFrame is built from those local rows, so
actions on it never re-run the kernel.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from moz_datapipeline_spark.graph.kernel import (
    Graph,
    _csr,
    build_graph,
    dijkstra,
    od_tree_ways,
    pair_costs,
    snap_to_nodes,
    split_edges_at_points,
)

_STATS_SCHEMA = (
    "way_id string, max_time double, avg_time double, avg_time_nonzero double, "
    "unroutable_pairs long, impacted_pairs long"
)
_STATS_DTYPES = {
    "way_id": object,
    "max_time": "float64",
    "avg_time": "float64",
    "avg_time_nonzero": "float64",
    "unroutable_pairs": "int64",
    "impacted_pairs": "int64",
}


def _way_stats(
    way_ids: list[str],
    g: Graph,
    od_nodes: np.ndarray,
    benchmark: np.ndarray,
    iu: np.ndarray,
    ju: np.ndarray,
    tree_ways: list[set] | None = None,
) -> pd.DataFrame:
    """Per-way scenario fold, replicating criticality.js:232-303 exactly:

    - scenario pair unroutable → unroutablePairs++
    - else deltaT = time − benchmark; deltaT ≥ 0 enters timeDeltas;
      deltaT > 0 → impactedPairs++; deltaT < 0 → treated unroutable
      (reclassification, criticality.js:252-258).
    - avgTimeNonZero = sum(timeDeltas)/count(nonzero) (|| 0 guard).

    With ``tree_ways`` (per-source shortest-path way sets), each scenario
    reruns Dijkstra ONLY for sources whose tree contains the removed way;
    all other sources' rows are provably identical to the benchmark
    (see ``od_tree_ways``) and are copied. In practice a way sits on few
    sources' trees, cutting Dijkstra count ~|OD|-fold.
    """
    rows = []
    for w in way_ids:
        mask = g.way_id != w
        if tree_ways is None:
            mat = pair_costs(g, od_nodes, edge_mask=mask)
        else:
            affected = [i for i, tw in enumerate(tree_ways) if w in tw]
            mat = benchmark.copy()
            if len(affected) >= 4:
                from moz_datapipeline_spark.graph.kernel import multi_source_dists

                dists = multi_source_dists(
                    g, od_nodes[affected], edge_mask=mask, targets=od_nodes
                )
                mat[affected, :] = dists[:, od_nodes]
                mat = np.maximum(mat, mat.T)
            elif affected:
                indptr, indices, weights = _csr(g, mask, None)
                for i in affected:
                    # only OD columns read → early-exit at last target
                    dist = dijkstra(
                        indptr, indices, weights, int(od_nodes[i]),
                        g.n_nodes, targets=od_nodes,
                    )
                    mat[i, :] = dist[od_nodes]
                mat = np.maximum(mat, mat.T)
        sc = mat[iu, ju]
        bm = benchmark[iu, ju]
        unroutable = int(np.sum(np.isinf(sc)))
        routable = ~np.isinf(sc)
        delta = sc[routable] - bm[routable]
        neg = delta < 0
        unroutable += int(np.sum(neg))
        deltas = delta[~neg]  # deltaT >= 0 only
        impacted = int(np.sum(delta > 0))
        n_nonzero = int(np.sum(deltas != 0))
        total = float(np.sum(deltas)) if len(deltas) else 0.0
        rows.append(
            {
                "way_id": w,
                "max_time": float(np.max(deltas)) if len(deltas) else 0.0,
                "avg_time": total / len(deltas) if len(deltas) else 0.0,
                "avg_time_nonzero": (total / n_nonzero) if n_nonzero else 0.0,
                "unroutable_pairs": unroutable,
                "impacted_pairs": impacted,
            }
        )
    return pd.DataFrame(rows)


def criticality_scores(
    spark: SparkSession,
    edges: pd.DataFrame,
    od_nodes_by_id: list[str] | None = None,
    n_partitions: int | None = None,
    checkpoint_dir: str | None = None,
    od_points_lonlat=None,
    node_coords: dict[str, tuple[float, float]] | None = None,
    snap: str = "edge",
) -> DataFrame:
    """Distributed criticality over all ways.

    ``edges``: pandas (way_id, src, dst, weight) — the full (small)
    graph, broadcast to every task. ``od_nodes_by_id``: node ids of the
    OD points (pre-snapped). Returns (way_id, max_time, avg_time,
    avg_time_nonzero, unroutable_pairs, impacted_pairs, score), one row
    per way.

    The fan-out runs HERE, when the function is called, in exactly one
    pass: the per-way stats are collected to the driver, scored there,
    and returned as a DataFrame over those local rows — actions on it
    re-run no kernel.

    Off-network OD points: pass ``od_points_lonlat`` (+ ``node_coords``)
    instead of ``od_nodes_by_id``.  ``snap="edge"`` (default) projects
    each point onto its nearest edge and routes from the foot point —
    OSRM's osrm.table snap (criticality.js:132-177), including the
    "nearest segment is the excluded way → unroutable" null semantics;
    ``snap="node"`` is the cheap nearest-junction approximation.

    ``checkpoint_dir`` enables cross-run resume of the per-way Dijkstra
    stats (the expensive fan-out): finished ways are skipped on rerun
    via ``graph.resume.resumable_apply``.  Pruned zero-rows and the
    scoring pass (cheap, need ALL stats) recompute every run.
    """
    if od_points_lonlat is not None:
        if node_coords is None:
            raise ValueError("od_points_lonlat requires node_coords")
        if snap == "edge":
            edges, od_nodes_by_id, node_coords = split_edges_at_points(
                edges, np.asarray(od_points_lonlat), node_coords
            )
        elif snap == "node":
            g0 = build_graph(edges)
            idxs = snap_to_nodes(
                g0, np.asarray(od_points_lonlat), node_coords
            )
            od_nodes_by_id = [g0.node_ids[int(i)] for i in idxs]
        else:
            raise ValueError(f"snap must be 'edge' or 'node', got {snap!r}")
    if od_nodes_by_id is None:
        raise ValueError("need od_nodes_by_id or od_points_lonlat")
    g = build_graph(edges)
    node_index = {n: i for i, n in enumerate(g.node_ids)}
    od_nodes = np.array([node_index[n] for n in od_nodes_by_id], dtype=np.int64)
    benchmark = pair_costs(g, od_nodes)
    n_od = len(od_nodes)
    iu, ju = np.triu_indices(n_od, k=1)

    # Prune: a way on no OD shortest path is a zero-delta scenario — its
    # stats are known without running Dijkstra. At national scale this
    # cuts the fan-out from |ways| to the spanning set of OD routes.
    # The same per-source tree sets drive incremental recompute inside
    # the kernel (only affected sources re-run).
    tree_ways = od_tree_ways(g, od_nodes)
    all_ways = sorted(set(edges["way_id"]))
    used = set().union(*tree_ways) if tree_ways else set()
    active = sorted(used)
    pruned = [w for w in all_ways if w not in used]
    base_unroutable = int(np.sum(np.isinf(benchmark[iu, ju])))

    scenarios = spark.createDataFrame(
        [(w,) for w in active], schema="way_id string"
    )
    if n_partitions is None:
        n_partitions = max(
            1, min(len(active), spark.sparkContext.defaultParallelism * 2)
        )
    scenarios = scenarios.repartition(n_partitions, "way_id")

    # explicit broadcast: the graph + benchmark context ships ONCE per
    # executor (torrent broadcast), not inside every task's pickled
    # closure — at national graph sizes closure shipping re-serializes
    # megabytes per task
    ctx_bv = spark.sparkContext.broadcast(
        (g, od_nodes, benchmark, iu, ju, tree_ways)
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        bg, bod, bbench, biu, bju, btrees = ctx_bv.value
        return _way_stats(
            list(pdf["way_id"]), bg, bod, bbench, biu, bju, btrees
        )

    from moz_datapipeline_spark.graph.resume import resumable_apply

    try:
        stats = resumable_apply(
            spark,
            scenarios,
            ("way_id",),
            lambda sc: sc.groupBy("way_id").applyInPandas(kernel, _STATS_SCHEMA),
            checkpoint_dir,
        ).toPandas()
    finally:
        # the stats are local now; without this the context stays
        # resident on every executor until the periodic cleaner GC
        ctx_bv.destroy()
    zero_rows = pd.DataFrame(
        [(w, 0.0, 0.0, 0.0, base_unroutable, 0) for w in pruned],
        columns=list(_STATS_DTYPES),
    )
    stats = pd.concat([stats, zero_rows], ignore_index=True).astype(
        _STATS_DTYPES
    )
    return spark.createDataFrame(_score(stats), _STATS_SCHEMA + ", score double")


def _score(stats: pd.DataFrame) -> pd.DataFrame:
    """Append ``score`` = (0.4·timeScore + 0.6·unroutableScore)·100 with
    both parts normalized by their maximum over ALL ways
    (criticality.js:96-110); a zero maximum scores 0, never NaN."""
    pairs = (stats["unroutable_pairs"] + stats["impacted_pairs"]).to_numpy(float)
    unroutable = stats["unroutable_pairs"].to_numpy(float)
    avg_time = pairs * stats["avg_time_nonzero"].to_numpy(float)
    avg_max_time = avg_time.max(initial=0.0)
    max_unroutable = unroutable.max(initial=0.0)
    zeros = np.zeros(len(stats))
    time_score = avg_time / avg_max_time if avg_max_time > 0 else zeros
    unroutable_score = unroutable / max_unroutable if max_unroutable > 0 else zeros
    return stats.assign(score=(time_score * 0.4 + unroutable_score * 0.6) * 100.0)
