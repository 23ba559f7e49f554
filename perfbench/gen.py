"""Seeded input generator for the road-prioritization benchmark.

Everything is built in this process with numpy from one seed, so the
same seed gives byte-identical inputs.  The program under test only
ever sees the pandas frames returned here (or Spark DataFrames made
from them).

Shapes follow the reference pipeline's inputs (FIXTURES.md):

- ``prep_inputs``: a road network of multi-vertex ways grouped into
  roads (``ROAD_ID``) and provinces, raw bridge records whose
  ``Link_ID`` encodes a real ``ROAD_ID``, long flood statistics for a
  share of the ways, a wide OD traffic matrix, district polygons and
  agriculture cells.
- ``graph_inputs``: a jittered grid road graph whose ways are chains of
  edges, with pendant spur roads (so removing a way can cut OD pairs
  off), OD nodes, per-way flood depths and yearly OD traffic.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

#: the reference's fixed flood return periods (years), ascending
RETURN_PERIODS = (5, 10, 20, 50, 75, 100, 200, 250, 500, 1000)

PROVINCES = (
    ("Cabo Delgado", "MZ-P"), ("Gaza", "MZ-G"), ("Inhambane", "MZ-I"),
    ("Manica", "MZ-B"), ("Maputo", "MZ-L"), ("Maputo City", "MZ-MPM"),
    ("Nampula", "MZ-N"), ("Niassa", "MZ-A"), ("Sofala", "MZ-S"),
    ("Tete", "MZ-T"), ("Zambezia", "MZ-Q"),
)

#: planar extent of the synthetic network (lon/lat degrees)
LON0, LAT0, EXTENT = 32.0, -26.0, 6.0

#: relational inputs: one raw bridge per this many ways, the share of
#: ways with flood statistics, OD zones, districts per side of the
#: district grid, agriculture cells
BRIDGE_EVERY = 8
PREP_FLOODED_SHARE = 0.3
N_ZONES = 138
DISTRICT_SIDE = 12
N_AG_CELLS = 5000

#: share of graph ways with flood depths
GRAPH_FLOODED_SHARE = 0.11


def prep_inputs(seed: int, n_roads: int = 300, ways_per_road: int = 20) -> dict:
    """Inputs of the relational pipeline (preparation → indicators →
    area indicator → merge → writes), as pandas frames.

    Each road is a random walk of vertices; consecutive ways of a road
    share their end node, so every way's ``nodes`` chain matches its
    ``coordinates`` vertex for vertex.
    """
    rng = np.random.default_rng(seed)
    letters = np.array(list("NREM"))
    road_nums = rng.choice(np.arange(1, 10000), size=n_roads, replace=False)
    road_ids = [f"{letters[i % 4]}{n}" for i, n in enumerate(road_nums)]
    prov_names = [p[0] for p in PROVINCES]

    node_lon: list[float] = []
    node_lat: list[float] = []
    ways = []
    segs = []
    for r, road in enumerate(road_ids):
        lon = LON0 + rng.uniform(0.5, EXTENT - 0.5)
        lat = LAT0 + rng.uniform(0.5, EXTENT - 0.5)
        heading = rng.uniform(0, 2 * math.pi)
        province = prov_names[int(rng.integers(len(prov_names)))]
        cls = str(rng.choice(["Primary", "Secondary", "Tertiary", "Vicinal"]))
        surf = str(rng.choice(["Paved", "Unpaved"], p=[0.3, 0.7]))
        node_lon.append(lon)
        node_lat.append(lat)
        prev = len(node_lon) - 1
        for _ in range(ways_per_road):
            nv = int(rng.integers(2, 9))  # 2..8 vertices
            chain = [prev]
            for _ in range(nv - 1):
                heading += rng.normal(0, 0.35)
                step = rng.uniform(0.004, 0.02)
                lon = min(max(lon + step * math.cos(heading), LON0), LON0 + EXTENT)
                lat = min(max(lat + step * math.sin(heading), LAT0), LAT0 + EXTENT)
                node_lon.append(lon)
                node_lat.append(lat)
                chain.append(len(node_lon) - 1)
            prev = chain[-1]
            name = str(len(ways) + 1)
            xs = [node_lon[i] for i in chain]
            ys = [node_lat[i] for i in chain]
            seg_len = [
                math.hypot(xs[k + 1] - xs[k], ys[k + 1] - ys[k])
                for k in range(nv - 1)
            ]
            way_len = float(sum(seg_len))
            for k in range(nv - 1):
                segs.append((name, xs[k], ys[k], xs[k + 1], ys[k + 1], way_len))
            aadt = float(rng.lognormal(6.0, 1.0)) if rng.random() > 0.05 else None
            prov_case = (
                province.upper() if rng.random() < 0.2 else province
            )
            ways.append(
                {
                    "NAME": name,
                    "ROAD_ID": road,
                    "ROAD_CLASS": cls,
                    "SURF_TYPE": surf,
                    "PROVINCE": prov_case,
                    "AADT": aadt,
                    "RUC": float(np.round(rng.uniform(0.1, 2.0), 3)),
                    "coordinates": [
                        {"lon": x, "lat": y} for x, y in zip(xs, ys)
                    ],
                    "nodes": [f"n{i}" for i in chain],
                }
            )
    ways_df = pd.DataFrame(ways)
    segs_df = pd.DataFrame(
        segs, columns=["way_id", "ax", "ay", "bx", "by", "way_len"]
    )

    # bridges: a point near a random segment of a random way; Link_ID
    # "<L><NNNN><2 digits>:<4 digits>.<d>" → road_id_from_link gives
    # back the way's ROAD_ID
    n_bridges = max(1, len(ways) // BRIDGE_EVERY)
    pick = rng.integers(0, len(ways), size=n_bridges)
    bridges = []
    for b, wi in enumerate(pick):
        w = ways[int(wi)]
        c = w["coordinates"]
        k = int(rng.integers(0, len(c) - 1))
        t = rng.uniform(0.1, 0.9)
        x = c[k]["lon"] + t * (c[k + 1]["lon"] - c[k]["lon"]) + rng.normal(0, 2e-4)
        y = c[k]["lat"] + t * (c[k + 1]["lat"] - c[k]["lat"]) + rng.normal(0, 2e-4)
        road = w["ROAD_ID"]
        link = (
            f"{road[0]}{int(road[1:]):04d}{int(rng.integers(0, 100)):02d}:"
            f"{int(rng.integers(0, 10000)):04d}.{int(rng.integers(0, 10))}"
        )
        kind = "CULV" if rng.random() < 0.6 else "BRG"
        u = rng.random()
        if u < 0.1:
            over = "0"  # → default length
        elif u < 0.2:
            over = f"{rng.uniform(1000, 3000):,.1f}"  # thousands separator
        else:
            over = f"{rng.uniform(3, 300):.1f}"
        bridges.append((b + 1, link, kind, over, x, y))
    bridges_df = pd.DataFrame(
        bridges,
        columns=["bridge_id", "Link_ID", "Des_Type", "Over_Length", "lon", "lat"],
    )

    provinces_df = pd.DataFrame(list(PROVINCES), columns=["name", "iso"])

    # flood stats: depth and flooded share grow with the return period
    n_flooded = int(round(PREP_FLOODED_SHARE * len(ways)))
    flooded = rng.choice(len(ways), size=n_flooded, replace=False)
    fl = []
    for wi in np.sort(flooded):
        d0 = rng.uniform(0.05, 0.6)
        p0 = rng.uniform(5.0, 40.0)
        for i, rp in enumerate(RETURN_PERIODS):
            g = 1.0 + 0.35 * i
            fl.append(
                (ways[int(wi)]["NAME"], rp, float(d0 * g), float(min(100.0, p0 * g)))
            )
    flood_df = pd.DataFrame(
        fl, columns=["way_id", "return_period", "max_depth_m", "pct_flooded"]
    )

    # wide OD matrix: "from" + one column per zone id
    mat = rng.integers(0, 500, size=(N_ZONES, N_ZONES))
    np.fill_diagonal(mat, 0)
    traffic_df = pd.DataFrame(mat, columns=[str(i + 1) for i in range(N_ZONES)])
    traffic_df.insert(0, "from", np.arange(1, N_ZONES + 1))

    # districts: a jittered grid; neighbours share corners so the
    # quadrilaterals tile the extent without overlaps
    s = DISTRICT_SIDE
    gx = LON0 + np.linspace(0, EXTENT, s + 1)[None, :] + rng.uniform(
        -0.15, 0.15, size=(s + 1, s + 1)
    ) * (EXTENT / s)
    gy = LAT0 + np.linspace(0, EXTENT, s + 1)[:, None] + rng.uniform(
        -0.15, 0.15, size=(s + 1, s + 1)
    ) * (EXTENT / s)
    gx[:, 0], gx[:, -1] = LON0 - 0.1, LON0 + EXTENT + 0.1
    gy[0, :], gy[-1, :] = LAT0 - 0.1, LAT0 + EXTENT + 0.1
    districts = []
    for i in range(s):
        for j in range(s):
            corners = [(i, j), (i, j + 1), (i + 1, j + 1), (i + 1, j)]
            rx = [float(gx[a, b]) for a, b in corners]
            ry = [float(gy[a, b]) for a, b in corners]
            ind = 0.0 if rng.random() < 0.1 else float(rng.uniform(0.5, 10.0))
            districts.append((f"d{i * s + j}", [rx], [ry], ind))
    districts_df = pd.DataFrame(
        districts, columns=["area_id", "rings_x", "rings_y", "indicator"]
    )

    ag = rng.lognormal(2.0, 1.0, size=N_AG_CELLS)
    ag[rng.random(N_AG_CELLS) < 0.05] = np.nan
    ag_df = pd.DataFrame(
        {"cell_id": np.arange(N_AG_CELLS, dtype=np.int64), "ag_value": ag}
    )

    return {
        "ways": ways_df,
        "segments": segs_df,
        "bridges_raw": bridges_df,
        "provinces": provinces_df,
        "flood_stats": flood_df,
        "traffic_wide": traffic_df,
        "districts": districts_df,
        "agriculture": ag_df,
        "sizes": {
            "seed": seed,
            "ways": len(ways_df),
            "segments": len(segs_df),
            "road_ids": n_roads,
            "provinces": len(PROVINCES),
            "bridges": len(bridges_df),
            "flooded_ways": n_flooded,
            "zones": N_ZONES,
            "districts": len(districts_df),
            "ag_cells": N_AG_CELLS,
        },
    }


def graph_inputs(
    seed: int,
    side: int,
    n_od: int,
    way_edges: tuple[int, ...],
    n_spurs: int,
) -> dict:
    """A jittered ``side``×``side`` grid road graph plus routing inputs.

    Rows and columns of the grid are roads; each is cut into ways with
    the edge counts ``way_edges`` (summing to ``side - 1``) in a random
    order, so every seed has the same number of ways of each length.  ``n_spurs`` pendant two-edge spur ways hang off random grid
    nodes; a share of the OD nodes sit on spur ends, so removing a spur
    way makes OD pairs unroutable.

    Returns pandas ``edges`` (way_id, src, dst, weight, len_part, ruc),
    ``way_props`` (way_id, length_km, surface, depths[10], lengths[10]),
    ``od`` node ids, ``traffic_yearly`` {(i, j): trips} for i < j, and
    ``node_coords``.
    """
    rng = np.random.default_rng(seed)
    step = 0.01
    coords: dict[str, tuple[float, float]] = {}
    for r in range(side):
        for c in range(side):
            coords[f"n{r}_{c}"] = (
                LON0 + c * step + rng.uniform(-0.25, 0.25) * step,
                LAT0 + r * step + rng.uniform(-0.25, 0.25) * step,
            )
    if sum(way_edges) != side - 1:
        raise ValueError(f"way_edges {way_edges} must sum to side - 1 = {side - 1}")

    chains: list[tuple[str, list[str]]] = []
    for r in range(side):
        row = [f"n{r}_{c}" for c in range(side)]
        at = 0
        for k, n in enumerate(rng.permutation(way_edges)):
            chains.append((f"h{r}_{k}", row[at:at + n + 1]))
            at += n
    for c in range(side):
        col = [f"n{r}_{c}" for r in range(side)]
        at = 0
        for k, n in enumerate(rng.permutation(way_edges)):
            chains.append((f"v{c}_{k}", col[at:at + n + 1]))
            at += n
    grid_nodes = list(coords)
    spur_ends = []
    for i, a in enumerate(rng.choice(len(grid_nodes), size=n_spurs, replace=False)):
        root = grid_nodes[int(a)]
        x, y = coords[root]
        ang = rng.uniform(0, 2 * math.pi)
        mid, end = f"s{i}_1", f"s{i}_2"
        coords[mid] = (x + 0.4 * step * math.cos(ang), y + 0.4 * step * math.sin(ang))
        coords[end] = (x + 0.8 * step * math.cos(ang), y + 0.8 * step * math.sin(ang))
        chains.append((f"s{i}", [root, mid, end]))
        spur_ends.append(end)

    rows = []
    way_len: dict[str, float] = {}
    for way, chain in chains:
        ruc = float(np.round(rng.uniform(0.5, 1.5), 3))
        total = 0.0
        for a, b in zip(chain[:-1], chain[1:]):
            (ax, ay), (bx, by) = coords[a], coords[b]
            km = math.hypot(bx - ax, by - ay) * 111.0
            total += km
            rows.append((way, a, b, ruc * km, km, ruc))
        way_len[way] = total
    edges = pd.DataFrame(
        rows, columns=["way_id", "src", "dst", "weight", "len_part", "ruc"]
    )

    n_spur_od = min(len(spur_ends), max(1, n_od // 10))
    od = list(rng.choice(spur_ends, size=n_spur_od, replace=False))
    od += list(rng.choice(grid_nodes, size=n_od - n_spur_od, replace=False))

    way_ids = [w for w, _ in chains]
    flooded = set(rng.choice(
        len(way_ids), size=int(round(GRAPH_FLOODED_SHARE * len(way_ids))), replace=False
    ).tolist())
    depths, lengths, surfaces = [], [], []
    for i in range(len(way_ids)):
        surfaces.append("paved" if rng.random() < 0.3 else "unpaved")
        if i in flooded:
            d0 = rng.uniform(0.05, 0.4)
            p0 = rng.uniform(10.0, 60.0)
            depths.append([float(d0 * (1.0 + 0.45 * i)) for i in range(10)])
            lengths.append([float(min(100.0, p0 * (1.0 + 0.2 * i))) for i in range(10)])
        else:
            depths.append([0.0] * 10)
            lengths.append([0.0] * 10)
    way_props = pd.DataFrame(
        {
            "way_id": way_ids,
            "length_km": [way_len[w] for w in way_ids],
            "surface": surfaces,
            "depths": depths,
            "lengths": lengths,
        }
    )
    traffic = {}
    for i in range(n_od):
        for j in range(i + 1, n_od):
            if rng.random() < 0.9:
                traffic[(i, j)] = float(rng.integers(1, 400)) * 365.0
    edge_counts = edges.groupby("way_id").size()
    return {
        "edges": edges,
        "way_props": way_props,
        "od": [str(n) for n in od],
        "traffic_yearly": traffic,
        "node_coords": coords,
        "sizes": {
            "seed": seed,
            "nodes": len(coords),
            "edges": len(edges),
            "ways": len(way_ids),
            "od_nodes": n_od,
            "spur_ways": n_spurs,
            "single_edge_ways": int((edge_counts == 1).sum()),
            "flooded_ways": int(sum(1 for d in depths if d[-1] > 0)),
        },
    }
