"""The benchmark's three workloads against the package's public functions.

Each workload has the same life cycle:

- ``generate`` builds its inputs from the seed (numpy, in-process);
- ``load`` hands them to Spark (Parquet files for the relational
  workload; the graph workloads take pandas frames directly);
- ``iterate`` is one timed end-to-end pass and returns what ``verify``
  checks, outside the timed region;
- ``traced`` is one pass with every layer materialized on its own
  under a Spark job group named after the layer, timed by spans; it
  returns the layer metrics that spans and counts give directly, and
  the same result as ``iterate``.  Queries run only to count something
  go under ``COUNT_GROUP`` in spans named ``bench.count.*``; they are
  left out of the engine counters and of the traced iteration's time.

``JOIN_ROWS`` maps a layer metric to (layer, key columns): the metric is
the output rows of the layer's equi-joins on those keys, read from the
Spark event log of the program's own plans.
"""

from __future__ import annotations

import os
import pickle
import shutil
import statistics

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
import oracle

#: road upgrades evaluated per way (reference script-eaul/eaul.js:164-202)
UPGRADES = [
    {"id": "upgrade-rehab-asphalt", "ruc": 0.23, "drainage_capacity": 1.0, "surface": "paved"},
    {"id": "upgrade-rehab-gravel", "ruc": 0.27, "drainage_capacity": 1.0, "surface": "unpaved"},
    {"id": "rehab-earth", "ruc": 0.3, "drainage_capacity": 1.0, "surface": "unpaved"},
]


#: job group of the count-only queries of a traced pass
COUNT_GROUP = "bench.count"


def _noop(df) -> None:
    """Materialize a DataFrame fully without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


class PrepIndicators:
    """Relational regime: preparation → indicators → polygon-area
    indicator → merge → Parquet and indicator-CSV writes."""

    name = "prep_indicators"
    #: input sizes (ways = n_roads × ways_per_road)
    SIZES = {"n_roads": 150, "ways_per_road": 20}
    #: input files split in this many parts so scans run in parallel
    PARTS = 4
    #: candidate (bridge, segment) pairs: the road-id join inside
    #: snap_to_nearest_way, before the per-bridge argmin
    JOIN_ROWS = {
        "operators.bridges.candidate_pairs": ("operators.bridges", {"roadID", "ROAD_ID"}),
    }

    def __init__(self, seed: int, work_dir: str):
        self.seed = seed
        self.in_dir = os.path.join(work_dir, "inputs")
        self.out_dir = os.path.join(work_dir, "out")
        self._oracle = None

    def generate(self) -> None:
        self.inputs = gen.prep_inputs(self.seed, **self.SIZES)
        self.sizes = self.inputs["sizes"]

    def load(self, spark) -> None:
        shutil.rmtree(self.in_dir, ignore_errors=True)
        for key, pdf in self.inputs.items():
            if key == "sizes":
                continue
            d = os.path.join(self.in_dir, key)
            os.makedirs(d)
            parts = self.PARTS if key in ("ways", "segments") else 1
            for k, chunk in enumerate(np.array_split(np.arange(len(pdf)), parts)):
                t = pa.Table.from_pandas(pdf.iloc[chunk], preserve_index=False)
                pq.write_table(t, os.path.join(d, f"part-{k}.parquet"))

    @property
    def n_ways(self) -> int:
        return self.sizes["ways"]

    def _read(self, spark) -> dict:
        from moz_datapipeline_spark.sources.readers import read_parquet

        names = ("ways", "segments", "bridges_raw", "provinces", "flood_stats",
                 "traffic_wide", "districts", "agriculture")
        return {n: read_parquet(spark, os.path.join(self.in_dir, n)) for n in names}

    def _plan(self, spark, t: dict) -> dict:
        from moz_datapipeline_spark.plans.moz_pipeline import indicators, preparation

        prep = preparation(
            t["ways"], t["bridges_raw"], t["provinces"], t["flood_stats"],
            t["traffic_wide"], agriculture=t["agriculture"],
        )
        merged = indicators(spark, prep["network"], t["flood_stats"])
        return {"prep": prep, "merged": merged}

    def _area(self, t: dict):
        from moz_datapipeline_spark.operators.areas import indicator_from_polygon_areas
        from moz_datapipeline_spark.operators.indicators import normalize_indicator

        return normalize_indicator(
            indicator_from_polygon_areas(t["segments"], t["districts"]), "value"
        )

    def _write(self, final, prep, area) -> None:
        from moz_datapipeline_spark.sources.writers import (
            write_indicator_csv,
            write_parquet,
        )

        write_parquet(final, os.path.join(self.out_dir, "network"))
        write_parquet(prep["traffic"], os.path.join(self.out_dir, "traffic"))
        write_parquet(prep["agriculture"], os.path.join(self.out_dir, "agriculture"))
        write_indicator_csv(area, os.path.join(self.out_dir, "district_csv"))

    def iterate(self, spark):
        from moz_datapipeline_spark.operators.indicators import merge_indicators

        t = self._read(spark)
        p = self._plan(spark, t)
        area = self._area(t)
        final = merge_indicators(p["merged"], {"district": area}, network_key="NAME")
        self._write(final, p["prep"], area)
        return self.out_dir

    def verify(self, result, i: int) -> list[str]:
        if self._oracle is None:
            self._oracle = oracle.PrepOracle(self.inputs)
        return self._oracle.check(result)

    def traced(self, spark, tr) -> dict:
        from pyspark.sql import functions as F

        from moz_datapipeline_spark.operators.areas import polygon_clipped_pairs
        from moz_datapipeline_spark.operators.indicators import merge_indicators
        from moz_datapipeline_spark.operators.vulnerability import ead, flood_damage_long

        m: dict = {}
        cached = []

        def keep(df):
            cached.append(df.persist())
            return df

        with tr.span("sources.readers.read", "sources.readers"):
            t = self._read(spark)
        with tr.span("plans.moz_pipeline.call", "plans.moz_pipeline") as s:
            p = self._plan(spark, t)
        m["plans.moz_pipeline.call_s"] = s["end"] - s["start"]
        prep = p["prep"]
        # each layer's output is persisted once materialized, so a later
        # layer's span times its own work, not its upstream again
        with tr.span("operators.bridges.snap", "operators.bridges") as s:
            _noop(keep(prep["bridges"]))
        m["operators.bridges.snap_s"] = s["end"] - s["start"]
        with tr.span("bench.count.bridges", COUNT_GROUP):
            m["operators.bridges.snapped_ratio"] = (
                prep["bridges"].count() / t["bridges_raw"].count()
            )
        with tr.span("operators.traffic.fold", "operators.traffic") as s:
            _noop(keep(prep["traffic"]))
        m["operators.traffic.fold_s"] = s["end"] - s["start"]
        with tr.span("operators.enrich.network", "operators.enrich") as s:
            _noop(keep(prep["network"]))
        m["operators.enrich.network_s"] = s["end"] - s["start"]
        with tr.span("operators.indicators.percentile", "operators.indicators") as s:
            _noop(keep(prep["agriculture"]))
        m["operators.indicators.percentile_s"] = s["end"] - s["start"]
        with tr.span("operators.vulnerability.ead", "operators.vulnerability") as s:
            # the same exposure table indicators() builds internally
            net = prep["network"]
            exposure = t["flood_stats"].join(
                net.select(
                    F.col("NAME").alias("way_id"),
                    F.col("length").alias("length_km"),
                    F.lower(F.col("SURF_TYPE")).alias("surface"),
                ),
                "way_id",
            )
            _noop(keep(ead(flood_damage_long(exposure))))
        m["operators.vulnerability.ead_s"] = s["end"] - s["start"]
        with tr.span("operators.areas.polygon", "operators.areas") as s:
            area = keep(self._area(t))
            _noop(area)
        m["operators.areas.polygon_s"] = s["end"] - s["start"]
        with tr.span("bench.count.areas", COUNT_GROUP):
            n_pairs, n_overlap = polygon_clipped_pairs(
                t["segments"], t["districts"]
            ).agg(F.count("*"), F.count(F.when(F.col("overlap_len") > 0, 1))).first()
            m["operators.areas.candidate_pairs"] = n_pairs
            m["operators.areas.overlap_ratio"] = n_overlap / n_pairs
        with tr.span("operators.indicators.merge", "operators.indicators") as s:
            final = keep(
                merge_indicators(p["merged"], {"district": area}, network_key="NAME")
            )
            _noop(final)
        m["operators.indicators.merge_s"] = s["end"] - s["start"]
        with tr.span("sources.writers.write", "sources.writers") as s:
            self._write(final, prep, area)
        m["sources.writers.write_s"] = s["end"] - s["start"]
        m["sources.writers.bytes_written"] = _dir_bytes(self.out_dir)
        for df in cached:
            df.unpersist()
        return m, self.out_dir


class _GraphWorkload:
    """Shared life cycle of the two routing workloads (pandas inputs)."""

    GRAPH: dict = {}
    JOIN_ROWS: dict = {}

    def __init__(self, seed: int, work_dir: str):
        self.seed = seed
        self._oracle = None

    def generate(self) -> None:
        self.inputs = gen.graph_inputs(self.seed, **self.GRAPH)
        self.sizes = self.inputs["sizes"]

    def load(self, spark) -> None:
        """The routing engines take the (small) graph as pandas."""

    @property
    def n_ways(self) -> int:
        return self.sizes["ways"]

    def _sample(self, i: int, population: list, k: int) -> list:
        rng = np.random.default_rng([self.seed, i])
        idx = rng.choice(len(population), size=min(k, len(population)), replace=False)
        return [population[int(j)] for j in idx]


class CriticalitySweep(_GraphWorkload):
    """Leave-one-way-out scenarios through graph.criticality."""

    name = "criticality_sweep"
    GRAPH = {"side": 10, "n_od": 30, "way_edges": (3, 3, 3), "n_spurs": 5}
    #: ways recomputed by the oracle per iteration
    VERIFY_WAYS = 3

    @property
    def n_scenarios(self) -> int:
        return self.n_ways  # one way-removal scenario per way, pruned included

    def iterate(self, spark):
        from moz_datapipeline_spark.graph.criticality import criticality_scores

        return criticality_scores(
            spark, self.inputs["edges"], self.inputs["od"]
        ).toPandas()

    def verify(self, result, i: int) -> list[str]:
        if self._oracle is None:
            self._oracle = oracle.CriticalityOracle(self.inputs)
        return self._oracle.check(
            result, self._sample(i, self._oracle.ways, self.VERIFY_WAYS)
        )

    def traced(self, spark, tr) -> dict:
        from moz_datapipeline_spark.graph.kernel import build_graph, od_tree_ways, pair_costs

        m: dict = {}
        edges = self.inputs["edges"]
        with tr.span("graph.kernel.build_graph") as s:
            g = build_graph(edges)
        m["graph.kernel.build_graph_s"] = s["end"] - s["start"]
        index = {n: i for i, n in enumerate(g.node_ids)}
        od = np.array([index[n] for n in self.inputs["od"]], dtype=np.int64)
        with tr.span("graph.kernel.pair_costs") as s:
            pair_costs(g, od)
        m["graph.kernel.pair_costs_s"] = s["end"] - s["start"]
        with tr.span("graph.kernel.od_tree_ways") as s:
            trees = od_tree_ways(g, od)
        m["graph.kernel.od_tree_ways_s"] = s["end"] - s["start"]
        active = set().union(*trees)
        # Dijkstra runs the fan-out needs: affected sources per active way
        m["graph.kernel.sssp_runs"] = sum(len(tw) for tw in trees)
        m["graph.criticality.active_ratio"] = len(active) / self.n_ways
        with tr.span("graph.criticality.scores", "graph.criticality"):
            res = self.iterate(spark)
        return m, res


class EaulUpgrades(_GraphWorkload):
    """Way × upgrade scenarios through graph.eaul's closed-form overlay."""

    name = "eaul_upgrades"
    GRAPH = {
        "side": 10, "n_od": 60, "way_edges": (1, 1, 2, 2, 3),
        "n_spurs": 5,
    }
    #: scenarios recomputed from scratch by the oracle per iteration
    VERIFY_SCENARIOS = 2
    #: scenarios timed one by one on the driver for scenario_ms
    PROBE_SCENARIOS = 24

    @property
    def n_scenarios(self) -> int:
        return self.n_ways * len(UPGRADES)

    def _scenarios(self) -> list[tuple[str, str]]:
        return [(w, u["id"]) for w in sorted(self.inputs["way_props"]["way_id"])
                for u in UPGRADES]

    def iterate(self, spark):
        from moz_datapipeline_spark.graph.eaul import eaul_scores

        x = self.inputs
        return eaul_scores(
            spark, x["edges"], x["way_props"], x["od"], x["traffic_yearly"],
            upgrades=UPGRADES,
        ).toPandas()

    def verify(self, result, i: int) -> list[str]:
        if self._oracle is None:
            self._oracle = oracle.EaulOracle(self.inputs, UPGRADES)
        return self._oracle.check(
            result, self._sample(i, self._scenarios(), self.VERIFY_SCENARIOS)
        )

    def traced(self, spark, tr) -> dict:
        from moz_datapipeline_spark.graph.eaul import EaulContext

        m: dict = {}
        x = self.inputs
        with tr.span("graph.eaul.context") as s:
            ctx = EaulContext(x["edges"], x["way_props"], x["od"], x["traffic_yearly"])
        m["graph.eaul.context_s"] = s["end"] - s["start"]
        with tr.span("graph.eaul.baseline") as s:
            _, excluded = ctx.eaul(None, None, 0.7, None, None)
        m["graph.eaul.baseline_s"] = s["end"] - s["start"]
        # the payload eaul_scores broadcasts to every executor
        m["graph.eaul.broadcast_bytes"] = len(
            pickle.dumps((ctx, excluded), protocol=pickle.HIGHEST_PROTOCOL)
        )
        ups = {u["id"]: u for u in UPGRADES}
        times = []
        for way, up_id in self._sample(1 << 20, self._scenarios(), self.PROBE_SCENARIOS):
            u = ups[up_id]
            with tr.span("graph.eaul.scenario") as s:
                ctx.eaul(way, u["ruc"], u["drainage_capacity"], u["surface"], excluded)
            times.append(s["end"] - s["start"])
        m["graph.eaul.scenario_ms"] = statistics.median(times) * 1e3
        counts = x["edges"].groupby("way_id").size()
        m["graph.eaul.single_edge_share"] = float((counts == 1).mean())
        with tr.span("graph.eaul.scores", "graph.eaul"):
            res = self.iterate(spark)
        scen = res[res["upgrade_id"] != "baseline"]
        m["graph.eaul.nonzero_ratio"] = float((scen["eaul"] != 0).mean())
        return m, res


WORKLOADS = {w.name: w for w in (PrepIndicators, CriticalitySweep, EaulUpgrades)}

