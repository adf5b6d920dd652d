#!/usr/bin/env python3
"""Fleet-day benchmark for the three-stage GPS blind-zone pipeline.

Runs the composed public chain

    read_gps / read_bus_line / read_line_params
      → prepare_pings → extract_patterns
      → cluster_trajectories(mode="auto") → detect_blind_zones
      → write_partitioned

on a seeded bus fleet (``fleet.py``), from the reference-format CSVs to
the written blind-zone table, in a closed loop: one pipeline run at a
time from this single driver process on ``local[nproc]``.

    python3 perfbench/run.py --workload city_day --seed 1 --seconds 30 --trace 0

``--trace 0`` reports the end-to-end metrics (tracing off); ``--trace 1``
runs every layer call staged and traced (``spans.py``) and reports the
per-layer metrics. Human-readable lines go to stdout first; the last
line is one JSON object. The exit code is non-zero when an output check
fails. Run it from the repository root; it reads and writes only under
``.perfbench_work/`` there.
"""

from __future__ import annotations

import argparse
import hashlib
import inspect
import json
import math
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(REPO, ".perfbench_work")
sys.path.insert(0, HERE)

from fleet import Fleet, FleetSpec, generate  # noqa: E402
from proctree import ProcTree, become_subreaper, stop_tree  # noqa: E402

# Workload sizes are set for a 4-core, 15 GB host: one composed run of the
# chain must fit a run together with the session set-ups. The two differ in
# how clustering is routed, not in which layer dominates: on both, stage 1
# (ingest, prepare, extract) takes over half of the staged CPU (METRICS.md).
WORKLOADS: dict[str, FleetSpec] = {
    # many lines with two buses each over a morning, every line far under
    # the local-path threshold: clustering runs the local path only
    "city_day": FleetSpec(
        lines=16, buses_per_line=2, start_h=6.0, end_h=9.0,
        zones_per_line=(1, 2), route_km=(13.0, 16.0),
    ),
    # a few trunk lines with many buses over the morning peak: every line
    # has 240-310 trajectories and routes to the pair theta-join and
    # per-line matrix DBSCAN only
    "trunk_corridor": FleetSpec(
        lines=3, buses_per_line=18, start_h=7.0, end_h=10.0,
        zones_per_line=(3, 3), route_km=(11.0, 12.0),
    ),
}

SETUPS = 5  # session set-ups per run; setup_s is their median
# how auto routing must send every clustered line of a workload; the
# traced run fails when a seed routes a line elsewhere
ROUTE = {"city_day": "lines_local", "trunk_corridor": "lines_pairs"}
SIGNALS = {None, 0.5, 0.75, 1.0}
PATTERN_COLS = ("id", "lng", "lat", "t", "ts", "patternID", "linenumber")


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def pin_env() -> dict:
    """Pin the Spark environment from the benchmark side; return host facts."""
    cpus = len(os.sched_getaffinity(0))
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    driver_mem = "2g" if ram_gb >= 8 else "1g"
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ.pop("SPARK_GRAFT_INITIAL_PARTITIONS", None)
    # Python workers import the program from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    return {"nproc": cpus, "ram_gb": round(ram_gb, 1), "driver_mem": driver_mem}


def host_probe() -> float:
    """Seconds for a fixed single-core integer loop (host speed)."""
    t0 = time.perf_counter()
    s = 0
    for i in range(2_000_000):
        s += i * i
    return time.perf_counter() - t0


def warm_up(spark) -> None:
    """One tiny shuffle job, so the session is up and its executor ready.

    Python workers are left to the chain: a batch run starts its own.
    """
    from pyspark.sql import functions as F

    spark.range(10_000).groupBy((F.col("id") % 8).alias("k")).count().write.format(
        "noop"
    ).mode("overwrite").save()


def start_session(conf: dict):
    from gpssbzd_spark import get_session

    spark = get_session(app_name="perfbench", extra_conf=conf)
    warm_up(spark)
    return spark


def set_up(conf: dict) -> tuple[object, list[float]]:
    """Start the session ``SETUPS`` times (the first launches the JVM);
    keep the last one."""
    spark, samples = None, []
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session(conf)
        samples.append(time.perf_counter() - t0)
    return spark, samples


def read_inputs(spark, fleet: Fleet):
    from gpssbzd_spark.sources.csv import read_bus_line, read_gps, read_line_params

    return (
        read_gps(spark, fleet.gps_csv),
        read_bus_line(spark, fleet.bus_line_csv),
        read_line_params(spark, fleet.params_csv),
    )


def run_chain(spark, fleet: Fleet, out: str) -> None:
    """The composed chain, CSV to written blind-zone table."""
    from gpssbzd_spark.plans import (
        cluster_trajectories,
        detect_blind_zones,
        extract_patterns,
        prepare_pings,
    )
    from gpssbzd_spark.sources.writers import write_partitioned

    gps, bus_line, params = read_inputs(spark, fleet)
    patterns = extract_patterns(prepare_pings(gps, bus_line)).select(*PATTERN_COLS)
    clusters = cluster_trajectories(patterns, params, mode="auto")
    write_partitioned(detect_blind_zones(clusters), out, partition_cols=("linenumber",))


def read_table(path: str):
    """The written table as a pandas frame (pyarrow, no Spark job)."""
    import pyarrow.dataset as ds

    df = ds.dataset(path, format="parquet", partitioning="hive").to_table().to_pandas()
    df["linenumber"] = df["linenumber"].astype(str)
    return df


def digest(df) -> str:
    cols = ["linenumber", "id", "t", "patternID", "cluster", "speed", "signal"]
    rows = sorted(
        tuple("" if v is None or v != v else repr(v) for v in r)
        for r in df[cols].astype(object).itertuples(index=False)
    )
    return hashlib.sha256(repr(rows).encode()).hexdigest()


def check_output(df) -> list[str]:
    """Output invariants; returns the failures."""
    bad = []
    sig = {None if s != s else float(s) for s in df["signal"].unique()}
    if not sig <= SIGNALS:
        bad.append(f"signal outside {{null,0.5,0.75,1.0}}: {sorted(map(str, sig - SIGNALS))}")
    if (df["cluster"] == -1).any():
        bad.append("a row has cluster = -1")
    speed = df["speed"].astype(float)
    if not (speed.notna().all() and (speed.map(math.isfinite)).all() and (speed >= 0).all()):
        bad.append("speed not finite and >= 0")
    if len(df) == 0:
        bad.append("empty output")
    return bad


def zone_scores(df, fleet: Fleet) -> tuple[float, float]:
    """(recall, precision) of the signal against the planted crossings."""
    sig = df[df["signal"].notna()]
    keys = list(zip(sig["id"], sig["t"]))
    hi = {k for k, s in zip(keys, sig["signal"]) if s >= 0.5}
    recall = len(fleet.truth_before & hi) / fleet.crossings
    precision = sum(k in fleet.truth_rows for k in keys) / len(keys) if keys else 0.0
    return recall, precision


def measure(spark, fleet: Fleet, seconds: float, tree: ProcTree) -> dict:
    """Composed runs until ``seconds`` of measured time are used (≥ 1)."""
    walls, cpus, peaks, digests = [], [], [], []
    attempted = failed = 0
    scores = None
    while True:
        out = os.path.join(WORK, "out", f"composed{attempted}")
        attempted += 1
        tree.reset_peak()
        cpu0, t0 = tree.cpu_s(), time.perf_counter()
        try:
            run_chain(spark, fleet, out)
        except Exception:  # noqa: BLE001 — a failed run is counted and reported
            traceback.print_exc()
            failed += 1
            break
        wall = time.perf_counter() - t0
        cpu, peak = tree.cpu_s() - cpu0, tree.peak_rss_mb()
        df = read_table(out)
        problems = check_output(df)
        digests.append(digest(df))
        if scores is None:
            scores = zone_scores(df, fleet)
        shutil.rmtree(out, ignore_errors=True)
        if problems:
            print("check failed: " + "; ".join(problems), file=sys.stderr)
            failed += 1
            break
        walls.append(wall)
        cpus.append(cpu)
        peaks.append(peak)
        if sum(walls) + wall > seconds:
            break
    if len(set(digests)) > 1:
        print("check failed: output digest differs between repeats", file=sys.stderr)
        failed += 1
    return {
        "walls": walls, "cpus": cpus, "peaks": peaks, "digests": digests,
        "attempted": attempted, "failed": failed, "scores": scores,
    }


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def end_to_end(args, fleet: Fleet, env: dict) -> tuple[dict, int, int]:
    conf = {"spark.ui.showConsoleProgress": "false"}
    with ProcTree() as tree:
        spark, setups = set_up(conf)
        try:
            m = measure(spark, fleet, args.seconds, tree)
        finally:
            spark.stop()
    if m["failed"] or not m["walls"]:
        return {}, m["attempted"], max(1, m["failed"])
    n = len(m["walls"])
    pipeline_s = statistics.median(m["walls"])
    recall, precision = m["scores"]
    # (value, unit, sample count); zone_recall and error_rate are printed
    # only: see METRICS.md for why BENCHMARK.json leaves them out
    table = {
        "pipeline_s": (pipeline_s, "s", n),
        "pings_per_s": (fleet.pings / pipeline_s, "pings/s", n),
        "cpu_s": (statistics.median(m["cpus"]), "s", n),
        "peak_rss_mb": (max(m["peaks"]), "MB", n),
        "setup_s": (statistics.median(setups), "s", len(setups)),
        "zone_recall": (recall, "ratio", 1),
        "zone_precision": (precision, "ratio", 1),
        "error_rate": (m["failed"] / m["attempted"], "ratio", m["attempted"]),
    }
    print(f"workload {args.workload} seed {args.seed}: {fleet.pings} pings, "
          f"{fleet.lines} lines, {fleet.buses} buses, {fleet.crossings} planted crossings")
    print(f"host: {json.dumps(env)}")
    for name, (v, unit, count) in table.items():
        print(f"  {name:16s} {v:12.4f} {unit:8s} n={count}")
    print(f"  pipeline_s samples {[round(w, 3) for w in m['walls']]}; "
          f"setup_s samples {[round(s, 3) for s in setups]} (first launches the JVM)")
    print(f"  output digest {m['digests'][0]}")
    metrics = {
        k: _metric(v, unit)
        for k, (v, unit, _n) in table.items()
        if k not in ("zone_recall", "error_rate")
    }
    return metrics, m["attempted"], m["failed"]


LAYERS_IN_CHAIN = ("ingest", "prepare", "extract", "cluster", "detect", "sink")

# which counts each layer reports (besides wall_s and cpu_s)
LAYER_COUNTS = {
    "ingest": ("rows_out",),
    "prepare": ("jobs", "tasks", "shuffle_write_mb", "spill_mb", "rows_out"),
    "extract": ("jobs", "tasks", "shuffle_write_mb", "spill_mb", "rows_out"),
    "assemble": ("rows_out",),
    "cluster": ("jobs", "tasks", "shuffle_write_mb", "trajectories", "matrix_pairs",
                "lines_local", "lines_pairs", "lines_components", "noise_share"),
    "detect": ("jobs", "rows_in", "rows_out"),
    "sink": ("files", "bytes_mb"),
}
UNITS = {"shuffle_write_mb": "MB", "spill_mb": "MB", "bytes_mb": "MB", "noise_share": "ratio"}


def traced(args, fleet: Fleet, env: dict) -> tuple[dict, int, int]:
    """Staged, traced run of every layer call, then one composed run."""
    from gpssbzd_spark.plans import (
        assemble_trajectories,
        cluster_trajectories,
        detect_blind_zones,
        extract_patterns,
        prepare_pings,
    )
    from gpssbzd_spark.sources.writers import write_partitioned
    from spans import Tracer, eventlog_by_group

    evdir = os.path.join(WORK, "eventlog")
    shutil.rmtree(evdir, ignore_errors=True)
    os.makedirs(evdir)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{evdir}",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    staged_out = os.path.join(WORK, "out", "staged")
    composed_out = os.path.join(WORK, "out", "composed")
    run_id = f"{args.workload}-{args.seed}"
    failed = 0
    with ProcTree() as tree:
        spark = start_session(conf)
        tr = Tracer(spark, tree, args.workload, run_id)
        c: dict[str, dict] = {}
        try:
            with tr.span("ingest"):
                gps, bus_line, params = (
                    d.localCheckpoint() for d in read_inputs(spark, fleet)
                )
            c["ingest"] = {"rows_out": gps.count()}
            with tr.span("prepare"):
                prepared = prepare_pings(gps, bus_line).localCheckpoint()
            c["prepare"] = {"rows_out": prepared.count()}
            with tr.span("extract"):
                patterns = (
                    extract_patterns(prepared).select(*PATTERN_COLS).localCheckpoint()
                )
            c["extract"] = {"rows_out": patterns.count()}
            with tr.span("assemble"):
                traj = assemble_trajectories(patterns).localCheckpoint()
            per_line = {r[0]: r[1] for r in traj.groupBy("linenumber").count().collect()}
            c["assemble"] = {"rows_out": sum(per_line.values())}
            with tr.span("cluster"):
                clusters = cluster_trajectories(patterns, params, mode="auto").localCheckpoint()
            c["cluster"], clustered = cluster_counts(clusters, per_line, params)
            with tr.span("detect"):
                zones = detect_blind_zones(clusters).localCheckpoint()
            c["detect"] = {"rows_in": clusters.count(), "rows_out": zones.count()}
            with tr.span("sink"):
                write_partitioned(zones, staged_out, partition_cols=("linenumber",))
            c["sink"] = sink_counts(staged_out)

            spark.sparkContext.setJobGroup(tr.group("compose"), "composed run")
            cpu0, t0 = tree.cpu_s(), time.perf_counter()
            run_chain(spark, fleet, composed_out)
            composed_wall, composed_cpu = time.perf_counter() - t0, tree.cpu_s() - cpu0
            composed_jobs = tr.jobs_and_tasks("compose")["jobs"]
        except Exception:  # noqa: BLE001 — reported as a failed run
            traceback.print_exc()
            spark.stop()
            return {}, 1, 1
        spark.stop()
    tr.dump(os.path.join(WORK, f"spans-{run_id}.json"))

    staged_df, composed_df = read_table(staged_out), read_table(composed_out)
    problems = check_output(staged_df) + check_output(composed_df)
    if digest(staged_df) != digest(composed_df):
        problems.append("staged output differs from composed output")
    route = ROUTE[args.workload]
    if c["cluster"][route] != len(clustered):
        problems.append(f"{len(clustered) - c['cluster'][route]} of {len(clustered)} "
                        f"lines not routed as {route}")
    if problems:
        print("check failed: " + "; ".join(problems), file=sys.stderr)
        failed = 1

    ev = eventlog_by_group(evdir)
    no_shuffle = {"shuffle_write_mb": 0.0, "spill_mb": 0.0}
    spans = {s.name: s for s in tr.spans}
    per_layer: dict[str, tuple[float, str]] = {}
    for name, keys in LAYER_COUNTS.items():
        s = spans[name]
        counts = {**s.counts, **ev.get(tr.group(name), no_shuffle), **c[name]}
        per_layer[f"{name}.wall_s"] = (s.wall_s, "s")
        per_layer[f"{name}.cpu_s"] = (s.cpu_s, "s")
        for k in keys:
            per_layer[f"{name}.{k}"] = (counts[k], UNITS.get(k, "count"))
    staged_cpu = sum(spans[n].cpu_s for n in LAYERS_IN_CHAIN)
    per_layer["chain.jobs"] = (composed_jobs, "count")
    per_layer["chain.recompute_ratio"] = (composed_cpu / staged_cpu, "ratio")
    per_layer["trace.overhead_s"] = (tr.overhead_s, "s")

    print(f"workload {args.workload} seed {args.seed} (traced): {fleet.pings} pings; "
          f"host: {json.dumps(env)}")
    staged_wall = sum(spans[n].wall_s for n in LAYERS_IN_CHAIN)
    print(f"  composed run beside the staged one: {composed_wall:.3f} s wall, "
          f"{composed_cpu:.3f} s cpu; staged chain {staged_wall:.3f} s wall, "
          f"{staged_cpu:.3f} s cpu")
    print("  staged chain shares (wall, cpu): " + ", ".join(
        f"{n} {spans[n].wall_s / staged_wall:.2f} {spans[n].cpu_s / staged_cpu:.2f}"
        for n in LAYERS_IN_CHAIN))
    print(f"  trajectories per clustered line: min {min(clustered, default=0)} max {max(clustered, default=0)}")
    for k, (v, u) in per_layer.items():
        print(f"  {k:28s} {v:12.4f} {u}")
    return {k: _metric(v, u) for k, (v, u) in per_layer.items()}, 1, failed


def cluster_counts(clusters, per_line: dict[str, int], params) -> tuple[dict, list[int]]:
    """Routing of each clustered line, and the share of trajectories
    labelled noise.

    The routing is the auto rule of ``cluster_trajectories`` applied to
    the measured per-line trajectory counts, with the thresholds the
    chain runs under (the function's defaults, read from its signature);
    the executed plan does not record which branch each line took.
    Also returns the trajectory count of each clustered line (the lines
    that have parameters)."""
    from gpssbzd_spark.plans import cluster_trajectories

    sig = inspect.signature(cluster_trajectories).parameters
    local_threshold = sig["local_threshold"].default
    max_pairs = sig["max_group_pairs"].default
    with_params = {r[0] for r in params.select("linenumber").collect()}
    sizes = [n for line, n in per_line.items() if line in with_params]
    local = [n for n in sizes if n <= local_threshold]
    pairs = [n for n in sizes if n > local_threshold and n * (n - 1) / 2 <= max_pairs]
    labels = clusters.select("linenumber", "id", "patternID", "cluster").distinct()
    labelled = labels.filter("cluster IS NOT NULL")
    n_labelled = labelled.count()
    return {
        "trajectories": sum(sizes),
        "matrix_pairs": sum(n * (n - 1) // 2 for n in pairs),
        "lines_local": len(local),
        "lines_pairs": len(pairs),
        "lines_components": len(sizes) - len(local) - len(pairs),
        "noise_share": labelled.filter("cluster = -1").count() / max(1, n_labelled),
    }, sizes


def sink_counts(path: str) -> dict:
    files = nbytes = 0
    for d, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith("part-"):
                files += 1
                nbytes += os.path.getsize(os.path.join(d, n))
    return {"files": files, "bytes_mb": nbytes / 2**20}


def shut_down() -> None:
    """Stop Spark, the JVM and every process this run started, and wait
    for each to end, so nothing outlives the benchmark.

    PySpark leaves the JVM to notice on its own that the driver's pipe
    closed, after the driver has exited; here it is stopped before."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        try:
            SparkContext._active_spark_context.stop()
        except Exception:  # noqa: BLE001 — the JVM may already be gone
            traceback.print_exc()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:  # stop_tree kills it below
            pass
    killed = stop_tree()
    if killed:
        print(f"perfbench: killed {len(killed)} process(es) that did not stop",
              file=sys.stderr)


def _on_term(signum, _frame) -> None:
    raise SystemExit(128 + signum)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(REPO, "gpssbzd_spark")):
        _fail(f"program package gpssbzd_spark not found under {REPO}")
    env = pin_env()
    sys.path.insert(0, REPO)
    try:
        import pyspark

        import gpssbzd_spark  # noqa: F401
    except ImportError as e:
        _fail(f"cannot import the program: {e}")
    env.update(
        host_probe_s=round(host_probe(), 4),
        spark=pyspark.__version__,
        python=platform.python_version(),
    )

    shutil.rmtree(WORK, ignore_errors=True)
    fleet = generate(WORKLOADS[args.workload], args.seed, os.path.join(WORK, "inputs"))
    become_subreaper()
    signal.signal(signal.SIGTERM, _on_term)
    try:
        if args.trace:
            metrics, attempted, failed = traced(args, fleet, env)
        else:
            metrics, attempted, failed = end_to_end(args, fleet, env)
    finally:
        shut_down()
    correct = failed == 0 and bool(metrics)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
