#!/usr/bin/env python3
"""Road-prioritization benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Workloads (see README.md beside this file):

- ``prep_indicators``   relational pipeline with Parquet/CSV writes;
- ``criticality_sweep`` leave-one-way-out routing scenarios;
- ``eaul_upgrades``     way × upgrade EAUL scenarios.

The run sets up once from cold (package import, JVM launch and
SparkSession, input generation and load), runs one warm-up iteration,
and reports both together as ``setup_s``.  It then repeats the
workload's timed iteration for ``--seconds``, checking every
iteration's outputs against independent oracles outside the timed
region.  With ``--trace 0`` it reports the end-to-end metrics; with
``--trace 1`` half the time runs untraced iterations and half traced
ones (each layer materialized under its own Spark job group, engine
counters read from the event log) and it reports the per-layer metrics.

The human-readable report goes to stdout first; the last stdout line
is one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``.  Metric names and units come from ``BENCHMARK.json``.
Scratch files live under ``.perfbench_work/`` and are removed at exit;
reports (spans, timings) stay under ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
import warnings

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import tracing  # noqa: E402
from workloads import COUNT_GROUP, WORKLOADS  # noqa: E402

#: at least this many untraced iterations, even past ``--seconds``
MIN_ITERS = 2

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _env(work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    the checkout, and let workers import the package from it."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "")
        + f" -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    ).strip()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # the data is small; a 1 GB heap cap bounds how far the JVM's resident
    # size (most of peak_rss_mb) follows G1's lazy heap growth
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def _stop_spark(spark) -> None:
    """Stop the session, the gateway JVM and every worker; wait for all."""
    from pyspark import SparkContext

    started = tracing.process_tree(os.getpid())[1:]
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    alive = started
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if not _is_zombie(p)]
        time.sleep(0.05)
    for p in alive:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples above it; with fewer than 11 samples, the median."""
    v = sorted(values)
    n = len(v)
    if n >= 11:
        return v[n - 11], 100.0 * (n - 10) / n
    return statistics.median(v), 50.0


class Run:
    """One benchmark run: set-up, warm-up, timed (and traced) iterations."""

    def __init__(self, workload, trace: bool, run_id: str):
        self.wl = workload
        self.trace = trace
        self.run_id = run_id
        self.setup = 0.0
        self.warmup = 0.0
        self.times: list[float] = []
        self.traced_times: list[float] = []
        self.layer_runs: list[dict] = []
        self.attempted = 0
        self.problems: list[str] = []
        self.failed = 0

    def set_up(self, conf: dict):
        t0 = time.perf_counter()
        from moz_datapipeline_spark.session import get_spark

        spark = get_spark(app_name=f"perfbench-{self.run_id}", extra_conf=conf)
        self.wl.generate()
        self.wl.load(spark)
        self.setup = time.perf_counter() - t0
        t0 = time.perf_counter()
        self.wl.iterate(spark)
        self.warmup = time.perf_counter() - t0
        return spark

    def iterations(self, spark, seconds: float) -> None:
        sc = spark.sparkContext
        self.tracer = tracing.Tracer(self.run_id, sc)
        phases = ("untraced", "traced") if self.trace else ("untraced",)
        budget = seconds / len(phases)
        for phase in phases:
            spent, i = 0.0, 0
            while spent < budget or i < (MIN_ITERS if phase == "untraced" else 1):
                self.attempted += 1
                rid = self.tracer.run_id = f"{phase}{i}"
                sc.setJobGroup(f"bench@{phase}{i}", phase)
                t0 = time.perf_counter()
                try:
                    if phase == "traced":
                        layer, result = self.wl.traced(spark, self.tracer)
                        self.layer_runs.append(layer)
                    else:
                        result = self.wl.iterate(spark)
                    dt = time.perf_counter() - t0
                    if phase == "traced":
                        counting = sum(
                            sp["end"] - sp["start"] for sp in self.tracer.spans
                            if sp["run_id"] == rid and sp["name"].startswith("bench.count")
                        )
                        self.traced_times.append(dt - counting)
                    else:
                        self.times.append(dt)
                    problems = self.wl.verify(result, self.attempted)
                except Exception:
                    dt = time.perf_counter() - t0
                    problems = [traceback.format_exc()]
                spent += dt
                i += 1
                if problems:
                    self.failed += 1
                    self.problems.extend(problems[:3])

    def end_to_end(self, peak_mb: float) -> dict:
        return {
            "setup_s": self.setup + self.warmup,
            "ways_per_s": self.wl.n_ways / statistics.median(self.times),
            "peak_rss_mb": peak_mb,
        }

    def per_layer(self, groups: dict) -> dict:
        """Engine counters of the first traced iteration (counts repeat
        exactly run to run), layer values as the median over traced
        iterations.  A declared metric of a layer the workload does not
        run reads 0."""
        first = {k: v for k, v in groups.items() if k.endswith("@traced0")}
        m: dict = {d["name"]: 0.0 for d in SPEC["per_layer"]}
        m.update({f"session.{k}": sum(c[k] for g, c in first.items()
                                      if not g.startswith(COUNT_GROUP))
                  for k in tracing.SESSION_COUNTERS})
        for key, (layer, cols) in self.wl.JOIN_ROWS.items():
            grp = first.get(f"{layer}@traced0")
            rows = grp and tracing.join_rows(grp, cols)
            if rows is None:
                raise RuntimeError(f"{key}: no {layer} join on {sorted(cols)} in the event log")
            m[key] = rows
        for key in self.layer_runs[0]:
            m[key] = statistics.median(r[key] for r in self.layer_runs)
        for layer in ("graph.criticality", "graph.eaul"):
            if f"{layer}@traced0" not in first:
                continue
            m[f"{layer}.fanout_task_s"] = statistics.median(
                v["pandas_task_s"] for k, v in groups.items()
                if k.startswith(f"{layer}@traced")
            )
        if "graph.criticality@traced0" in first:
            m["graph.criticality.pandas_stage_runs"] = (
                first["graph.criticality@traced0"]["pandas_stages"]
            )
        if m["graph.eaul.fanout_task_s"] > 0:
            m["graph.eaul.fanout_efficiency"] = (
                self.wl.n_scenarios * m["graph.eaul.scenario_ms"] / 1e3
                / m["graph.eaul.fanout_task_s"]
            )
        m["bench.tracing_overhead_s"] = (
            statistics.median(self.traced_times) - statistics.median(self.times)
        )
        m["bench.run_tail_s"], m["bench.run_tail_pct"] = tail(self.times)
        m["bench.run_samples"] = len(self.times)
        return m


def _print_groups(groups: dict) -> None:
    cols = tracing.SESSION_COUNTERS
    print("job group".ljust(34) + "".join(c[:10].rjust(11) for c in cols))
    for name in sorted(groups):
        c = groups[name]
        print(name[:33].ljust(34) + "".join(f"{c[k]:11.4g}" for k in cols))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    warnings.filterwarnings("ignore", category=FutureWarning)

    if not os.path.isdir(os.path.join(ROOT, "moz_datapipeline_spark")):
        print(f"package moz_datapipeline_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(ROOT, ".perfbench_work", f"{run_id}-{os.getpid()}")
    report_dir = os.path.join(ROOT, ".perfbench_out", run_id)
    os.makedirs(report_dir, exist_ok=True)
    _env(work)
    conf = {"spark.ui.showConsoleProgress": "false"}
    event_dir = os.path.join(work, "events")
    if args.trace:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })

    run = Run(WORKLOADS[args.workload](args.seed, work), bool(args.trace), run_id)
    spark = None
    try:
        with tracing.RssSampler(os.getpid()) as rss:
            spark = run.set_up(conf)
            run.iterations(spark, args.seconds)
            app_id = spark.sparkContext.applicationId
            _stop_spark(spark)
            spark = None
        if args.trace:
            groups = tracing.parse_event_log(os.path.join(event_dir, app_id))
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    for p in run.problems:
        print("VERIFY FAILED:", p.strip())
    if not run.times or (args.trace and not run.traced_times):
        print("no iteration completed; nothing to report", file=sys.stderr)
        return 1
    if args.trace:
        metrics = run.per_layer(groups)
        run.tracer.dump(os.path.join(report_dir, "spans.jsonl"))
        _print_groups(groups)
    else:
        metrics = run.end_to_end(rss.peak_mb)

    declared = SPEC["per_layer" if args.trace else "end_to_end"]
    undeclared = set(metrics) - {d["name"] for d in declared}
    if undeclared:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(undeclared)}")
    out = {d["name"]: {"value": float(metrics[d["name"]]), "unit": d["unit"]}
           for d in declared}
    wl = run.wl
    print(f"workload {args.workload}  seed {args.seed}  sizes {json.dumps(wl.sizes)}")
    print(f"set-up (s): {run.setup:.3f}  warm-up (s): {run.warmup:.3f}")
    print(f"iterations (s): {[round(t, 3) for t in run.times]}")
    if not args.trace and hasattr(wl, "n_scenarios"):
        print(f"scenarios_per_s {wl.n_scenarios / statistics.median(run.times):.4f} 1/s")
    print(f"failed_frac {run.failed / run.attempted:.4f} ({run.failed}/{run.attempted})")
    for k, v in out.items():
        print(f"  {k:42s} {v['value']:>16.6g} {v['unit']}")
    summary = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": out,
    }
    with open(os.path.join(report_dir, "result.json"), "w") as f:
        json.dump({**summary, "sizes": wl.sizes, "setup": run.setup,
                   "warmup": run.warmup, "times": run.times,
                   "traced_times": run.traced_times}, f, indent=1)
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
