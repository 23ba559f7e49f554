"""Independent output checks, run outside the timed region.

``PrepOracle`` recomputes the relational pipeline's outputs in DuckDB
from the generated inputs and compares them with the files the
iteration wrote.  ``CriticalityOracle`` and ``EaulOracle`` recompute
sampled scenarios from scratch with networkx shortest paths and the
formulas of the reference (criticality.js, eaul.js), sharing no code
with the package.  Each ``check`` returns a list of problems; an empty
list means the iteration's outputs are correct.
"""

from __future__ import annotations

import math

import duckdb
import networkx as nx
import numpy as np

RETURN_PERIODS = (5, 10, 20, 50, 75, 100, 200, 250, 500, 1000)
ROAD_REPAIR_COST = {
    "low": {"paved": 50_000.0, "unpaved": 20_000.0},
    "medium": {"paved": 150_000.0, "unpaved": 60_000.0},
    "high": {"paved": 400_000.0, "unpaved": 150_000.0},
    "none": {"paved": 0.0, "unpaved": 0.0},
}
FLOOD_REPAIR_HOURS = {
    "low": {"paved": 168.0, "unpaved": 1440.0},
    "medium": {"paved": 336.0, "unpaved": 2160.0},
    "high": {"paved": 1056.0, "unpaved": 4320.0},
}
EARTH_RADIUS_KM = 6371.0088


def _close(a, b, rel=1e-9, abs_=1e-9) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(float(a), float(b), rel_tol=rel, abs_tol=abs_)


def _trapezoid(vals) -> float:
    t = RETURN_PERIODS
    return 0.5 * sum(
        (1.0 / t[i] - 1.0 / t[i + 1]) * (vals[i] + vals[i + 1])
        for i in range(len(t) - 1)
    )


class PrepOracle:
    """DuckDB recomputation of the relational pipeline's outputs."""

    def __init__(self, inputs: dict):
        self.con = duckdb.connect()
        self.n_ways = inputs["sizes"]["ways"]
        ways = inputs["ways"]
        # planar geometry tables for the bridge argmin, one row per segment
        self.con.register("segs", inputs["segments"])
        self.con.register(
            "way_road", ways[["NAME", "ROAD_ID", "AADT", "SURF_TYPE"]]
        )
        self.con.register("bridges", inputs["bridges_raw"])
        self.con.register("flood", inputs["flood_stats"])
        tw = inputs["traffic_wide"]
        self.con.register("tw", tw)
        dest = ", ".join(f'"{c}"' for c in tw.columns if c != "from")
        self.expected_traffic = self.con.execute(
            f"""
            WITH long AS (
              UNPIVOT tw ON {dest} INTO NAME dest VALUE cnt
            ), d AS (
              SELECT CAST("from" AS BIGINT) o, CAST(dest AS BIGINT) d,
                     CAST(cnt AS BIGINT) c FROM long
            )
            SELECT least(o, d) AS origin, greatest(o, d) AS destination,
                   CAST(sum(CASE WHEN o < d THEN c ELSE 0 END) AS BIGINT) AS fwd,
                   CAST(sum(CASE WHEN o > d THEN c ELSE 0 END) AS BIGINT) AS rev
            FROM d WHERE o <> d GROUP BY 1, 2 ORDER BY 1, 2
            """
        ).fetchall()
        # bridge → nearest segment of a way on its road (ties: lowest NAME)
        self.expected_bridges = dict(
            (name, sorted(items))
            for name, items in self.con.execute(
                """
                WITH b AS (
                  SELECT bridge_id, lon AS px, lat AS py,
                    regexp_extract(substr("Link_ID", 1, 5),
                                   '([A-Z])0*([1-9][0-9]*)', 1)
                    || regexp_extract(substr("Link_ID", 1, 5),
                                      '([A-Z])0*([1-9][0-9]*)', 2) AS road,
                    CASE WHEN "Des_Type" = 'CULV' THEN 'culvert'
                         ELSE 'bridge' END AS typ,
                    CASE WHEN coalesce(TRY_CAST(replace("Over_Length", ',', '')
                                                AS DOUBLE), 0) = 0 THEN 7.0
                         ELSE CAST(replace("Over_Length", ',', '') AS DOUBLE)
                    END AS len
                  FROM bridges
                ), c AS (
                  SELECT b.bridge_id, b.typ, b.len, s.way_id,
                    s.bx - s.ax AS dx, s.by - s.ay AS dy,
                    b.px - s.ax AS qx, b.py - s.ay AS qy
                  FROM b JOIN way_road w ON w.ROAD_ID = b.road
                  JOIN segs s ON s.way_id = w.NAME
                ), t AS (
                  SELECT *, CASE WHEN dx*dx + dy*dy > 0 THEN
                      least(greatest((qx*dx + qy*dy) / (dx*dx + dy*dy), 0.0), 1.0)
                    ELSE 0.0 END AS tt FROM c
                ), dist AS (
                  SELECT bridge_id, typ, len, way_id,
                    sqrt(pow(qx - tt*dx, 2) + pow(qy - tt*dy, 2)) AS d FROM t
                ), best AS (
                  SELECT * FROM dist QUALIFY row_number() OVER (
                    PARTITION BY bridge_id ORDER BY d, way_id) = 1
                )
                SELECT way_id, list((typ, len)) FROM best GROUP BY way_id
                """
            ).fetchall()
        )
        self.n_bridges = len(inputs["bridges_raw"])
        vals = np.nan_to_num(inputs["agriculture"]["ag_value"].to_numpy(), nan=0.0)
        rank = int(round(0.8 * (len(vals) - 1) + 1e-9))
        threshold = np.sort(vals)[rank]
        self.expected_ag_rows = int(np.sum(vals >= threshold))
        coords = ways["coordinates"]
        self.expected_len_km = {
            n: sum(
                _haversine(c[k], c[k + 1]) for k in range(len(c) - 1)
            )
            for n, c in zip(ways["NAME"], coords)
        }

    def check(self, out_dir: str) -> list[str]:
        con = self.con
        problems: list[str] = []
        net = f"read_parquet('{out_dir}/network/*.parquet')"
        n, n_distinct = con.execute(
            f"SELECT count(*), count(DISTINCT NAME) FROM {net}"
        ).fetchone()
        if n != self.n_ways or n_distinct != self.n_ways:
            problems.append(f"network rows {n}/{n_distinct} != {self.n_ways}")

        # AADT indicator: value / max(value) * 100 over ways with AADT
        bad = con.execute(
            f"""
            SELECT count(*) FROM {net} o JOIN way_road w USING (NAME)
            CROSS JOIN (SELECT max(AADT) m FROM way_road) mx
            WHERE NOT (
              (w.AADT IS NULL AND o.aadtScore IS NULL)
              OR abs(o.aadtScore - w.AADT / mx.m * 100) <= 1e-9)
            """
        ).fetchone()[0]
        if bad:
            problems.append(f"aadtScore wrong on {bad} ways")

        # length (km) against an independent haversine sum, 2-dp rounding
        lens = dict(con.execute(f"SELECT NAME, length FROM {net}").fetchall())
        off = [k for k, v in self.expected_len_km.items()
               if v is None or abs(lens.get(k, -1) - v) > 0.0051]
        if off:
            problems.append(f"length wrong on {len(off)} ways")

        # flood EAD value per way, from the output network length
        rows = con.execute(
            f"""
            SELECT f.way_id, f.return_period, f.max_depth_m, f.pct_flooded,
                   o.length, lower(w.SURF_TYPE), o.floodEadValue
            FROM flood f JOIN {net} o ON o.NAME = f.way_id
            JOIN way_road w ON w.NAME = f.way_id
            """
        ).fetchall()
        per_way: dict[str, dict] = {}
        got: dict[str, float] = {}
        for way, rp, depth, pct, length, surf, val in rows:
            sev = ("none" if depth < 0.2 else "low" if depth <= 0.5
                   else "medium" if depth <= 1.5 else "high")
            per_way.setdefault(way, {})[rp] = (
                length * pct / 100.0 * ROAD_REPAIR_COST[sev][surf]
            )
            got[way] = val
        wrong = [
            w for w, dmg in per_way.items()
            if not _close(got[w], _trapezoid([dmg.get(p, 0.0) for p in RETURN_PERIODS]),
                          rel=1e-9, abs_=1e-6)
        ]
        if wrong:
            problems.append(f"floodEadValue wrong on {len(wrong)} ways")
        n_ead = con.execute(
            f"SELECT count(floodEadValue) FROM {net}"
        ).fetchone()[0]
        if n_ead != len(per_way):
            problems.append(f"floodEadValue on {n_ead} ways, expected {len(per_way)}")

        # traffic fold: exact table
        got_t = con.execute(
            f"""SELECT origin, destination, dailyODCount, reverseODCount
                FROM read_parquet('{out_dir}/traffic/*.parquet') ORDER BY 1, 2"""
        ).fetchall()
        if [tuple(r) for r in got_t] != [tuple(r) for r in self.expected_traffic]:
            problems.append("traffic fold differs")

        # bridges: every way's bridge list equals the argmin assignment
        got_b = {
            name: sorted((t, l) for t, l in items)
            for name, items in con.execute(
                f"""SELECT NAME, [(b.type, b.length) FOR b IN bridges]
                    FROM {net} WHERE bridges IS NOT NULL"""
            ).fetchall()
        }
        exp_b = {k: sorted(tuple(x) for x in v) for k, v in self.expected_bridges.items()}
        got_b = {k: [tuple(x) for x in v] for k, v in got_b.items()}
        if got_b != exp_b:
            diff = {k for k in set(got_b) | set(exp_b) if got_b.get(k) != exp_b.get(k)}
            problems.append(f"bridge assignment differs on {len(diff)} ways")
        if sum(len(v) for v in got_b.values()) != self.n_bridges:
            problems.append("not every bridge snapped")

        n_ag = con.execute(
            f"SELECT count(*) FROM read_parquet('{out_dir}/agriculture/*.parquet')"
        ).fetchone()[0]
        if n_ag != self.expected_ag_rows:
            problems.append(f"percentile filter kept {n_ag}, expected {self.expected_ag_rows}")

        n_csv, bad_score = con.execute(
            f"""SELECT count(*), count(*) FILTER (WHERE score < 0 OR score > 100 + 1e-9)
                FROM read_csv('{out_dir}/district_csv/*.csv', header = true)"""
        ).fetchone()
        if n_csv == 0 or bad_score:
            problems.append(f"district indicator csv rows {n_csv}, bad scores {bad_score}")
        return problems


def _haversine(a: dict, b: dict) -> float:
    la1, la2 = math.radians(a["lat"]), math.radians(b["lat"])
    dlat = la2 - la1
    dlon = math.radians(b["lon"] - a["lon"])
    h = math.sin(dlat / 2) ** 2 + math.cos(la1) * math.cos(la2) * math.sin(dlon / 2) ** 2
    return 2.0 * EARTH_RADIUS_KM * math.asin(math.sqrt(h))


def _nx_graph(edges, weight: dict[int, float] | None = None, drop=()) -> nx.MultiGraph:
    g = nx.MultiGraph()
    for i, (w, s, d, wt) in enumerate(
        zip(edges["way_id"], edges["src"], edges["dst"], edges["weight"])
    ):
        if w in drop:
            g.add_node(s)
            g.add_node(d)
            continue
        g.add_edge(s, d, weight=weight.get(i, wt) if weight else wt)
    return g


def _od_matrix(g: nx.MultiGraph, od: list[str]) -> np.ndarray:
    m = np.full((len(od), len(od)), np.inf)
    for i, s in enumerate(od):
        dist = nx.single_source_dijkstra_path_length(g, s, weight="weight")
        for j, t in enumerate(od):
            if t in dist:
                m[i, j] = dist[t]
    return np.maximum(m, m.T)


class CriticalityOracle:
    """Leave-one-out stats and scores recomputed with networkx."""

    def __init__(self, inputs: dict):
        self.edges = inputs["edges"]
        self.od = inputs["od"]
        self.ways = sorted(set(self.edges["way_id"]))
        self.iu, self.ju = np.triu_indices(len(self.od), k=1)
        self.bench = _od_matrix(_nx_graph(self.edges), self.od)[self.iu, self.ju]

    def stats(self, way: str) -> dict:
        sc = _od_matrix(_nx_graph(self.edges, drop={way}), self.od)[self.iu, self.ju]
        unroutable = int(np.isinf(sc).sum())
        ok = ~np.isinf(sc)
        delta = sc[ok] - self.bench[ok]
        unroutable += int((delta < 0).sum())
        deltas = delta[delta >= 0]
        nonzero = int((deltas != 0).sum())
        total = float(deltas.sum())
        return {
            "max_time": float(deltas.max()) if len(deltas) else 0.0,
            "avg_time": total / len(deltas) if len(deltas) else 0.0,
            "avg_time_nonzero": total / nonzero if nonzero else 0.0,
            "unroutable_pairs": unroutable,
            "impacted_pairs": int((deltas > 0).sum()),
        }

    def check(self, result, sample: list[str]) -> list[str]:
        """``result``: pandas rows of criticality_scores."""
        problems = []
        if sorted(result["way_id"]) != self.ways:
            return [f"criticality rows {len(result)} != {len(self.ways)} ways"]
        r = result.set_index("way_id")
        for way in sample:
            exp = self.stats(way)
            for k, v in exp.items():
                # path sums differ only in float summation order
                if not _close(r.loc[way, k], v, rel=1e-9, abs_=1e-9):
                    problems.append(f"{way}.{k}: {r.loc[way, k]} != {v}")
        # score formula (criticality.js:96-110) over every way
        tm = (r["unroutable_pairs"] + r["impacted_pairs"]) * r["avg_time_nonzero"]
        t_max, u_max = tm.max(), r["unroutable_pairs"].max()
        score = (
            (tm / t_max if t_max > 0 else 0.0) * 0.4
            + (r["unroutable_pairs"] / u_max if u_max > 0 else 0.0) * 0.6
        ) * 100.0
        bad = int((np.abs(score - r["score"]) > 1e-9).sum())
        if bad:
            problems.append(f"criticality score wrong on {bad} ways")
        return problems


class EaulOracle:
    """Full-recompute EAUL per scenario (11 networkx OD matrices each)."""

    def __init__(self, inputs: dict, upgrades: list[dict]):
        self.edges = inputs["edges"]
        self.od = inputs["od"]
        self.upgrades = {u["id"]: u for u in upgrades}
        wp = inputs["way_props"]
        self.props = {
            w: (lk, s, list(d), list(l))
            for w, lk, s, d, l in zip(
                wp["way_id"], wp["length_km"], wp["surface"], wp["depths"], wp["lengths"]
            )
        }
        n = len(self.od)
        self.iu, self.ju = np.triu_indices(n, k=1)
        ty = inputs["traffic_yearly"]
        self.traffic = np.array(
            [ty.get((int(i), int(j)), 0.0) for i, j in zip(self.iu, self.ju)]
        )
        self.edge_idx: dict[str, list[int]] = {}
        for i, w in enumerate(self.edges["way_id"]):
            self.edge_idx.setdefault(w, []).append(i)
        self.baseline, unroutable = self._eaul(None, None)
        self.excluded = unroutable | (self.traffic == 0)

    def _impassable(self, pi: int, way: str | None, dc: float) -> set[str]:
        ds = RETURN_PERIODS.index(20)
        return {
            w for w, (_, _, d, _) in self.props.items()
            if d[pi] - d[ds] * (dc if w == way else 0.7) > 0.5
        }

    def _eaul(self, way: str | None, up: dict | None, excluded=None):
        weight = None
        if way is not None:
            lp = self.edges["len_part"].to_numpy()
            weight = {i: up["ruc"] * lp[i] for i in self.edge_idx[way]}
        dc = up["drainage_capacity"] if up else 0.7
        pair = lambda drop: _od_matrix(  # noqa: E731
            _nx_graph(self.edges, weight, drop), self.od
        )[self.iu, self.ju]
        base = pair(set())
        floods = [pair(self._impassable(pi, way, dc)) for pi in range(10)]
        unroutable = np.zeros(len(self.iu), dtype=bool)
        for f in floods:
            unroutable |= np.isinf(f)
        excl = (unroutable | (self.traffic == 0)) if excluded is None else excluded
        keep = ~(excl | unroutable)
        u = []
        for pi in range(10):
            r = 0.0
            for w in self._impassable(pi, None, 0.7):
                lk, surf, d, ln = self.props[w]
                if w == way:
                    surf = up["surface"]
                sev = "high" if d[pi] > 1.5 else "medium" if d[pi] > 0.5 else "low"
                r = max(r, lk * ln[pi] / 100.0 * FLOOD_REPAIR_HOURS[sev][surf] / 24.0)
            u.append(r * float(np.sum((floods[pi][keep] - base[keep]) * self.traffic[keep])))
        e = _trapezoid(u)
        return (0.0 if abs(e) < 1.0 else e), unroutable

    def scenario(self, way: str, upgrade_id: str) -> float:
        return self._eaul(way, self.upgrades[upgrade_id], self.excluded)[0]

    def check(self, result, sample: list[tuple[str, str]]) -> list[str]:
        """``result``: pandas rows of eaul_scores."""
        problems = []
        n_exp = 1 + len(self.props) * len(self.upgrades)
        keys = set(zip(result["way_id"], result["upgrade_id"]))
        if len(result) != n_exp or len(keys) != n_exp:
            return [f"eaul rows {len(result)} ({len(keys)} keys) != {n_exp}"]
        r = {(w, u): v for w, u, v in zip(result["way_id"], result["upgrade_id"], result["eaul"])}
        if not _close(r[("__baseline__", "baseline")], self.baseline, rel=1e-7, abs_=1e-6):
            problems.append(f"baseline {r[('__baseline__', 'baseline')]} != {self.baseline}")
        for way, up in sample:
            exp = self.scenario(way, up)
            if not _close(r[(way, up)], exp, rel=1e-7, abs_=1e-6):
                problems.append(f"eaul {way}/{up}: {r[(way, up)]} != {exp}")
        return problems
