"""sitebench — end-to-end and per-layer benchmark of the site engine.

One run is one workload in one fresh process, a closed loop with a single
client on ``local[nproc]``:

1. set-up: import the package and the query registry, start a tuned
   session (``setup_s``, timed from process start);
2. make the seeded inputs (untimed);
3. a cold pass over the workload's operations in the fresh JVM (``cold_s``);
4. the workload's fixed number of steady passes, and more only while
   fewer than ``--seconds`` have passed (``steady_s`` = median pass,
   ``op_geomean_s`` = geometric mean over operations of each one's median
   time);
5. check the outputs against values computed apart from the program.

``--trace 1`` runs the same passes with spans around the calls into each
package module and prints the per-layer metrics instead (see layers.py).
The last line of standard output is one JSON object.  Run through
``run.sh``, which pins the measurement environment:

    bash sitebench/run.sh --workload station_etl --seed 1 --seconds 5 --trace 0
"""

from __future__ import annotations

import argparse
import json
import math
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from contextlib import nullcontext

T0 = float(os.environ.get("SITEBENCH_T0") or time.time())
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".sitebench_work")

# sensor and time-series registry queries.  a8_resample_hourly is left out:
# its round(avg(value), 4) disagrees with the oracle on the seeds whose
# hourly means fall exactly on a 4-dp tie (README, "Left out").
TIMESERIES = [
    "flagship_events_hourly", "p3_dedup_keep_first", "p7_validity_null",
    "w1_rolling_median_2d", "w5_resample_ffill",
    "w8_ratchet_depth", "j1_calibration_fallback", "j4_asof_backward",
    "fleet_udg_filter", "fleet_tdr_depth", "w_rolling_skewkurt_keyed",
    "a_time_weighted_avg", "p_debounce_burst_keyed", "tpch_q1", "tpch_q6",
]
# the iterative curation row kept (README, "Left out"): Lloyd rounds and
# Arrow/numpy kernels in Python workers
CURATION = ["ann_ivf_pq_topk"]
TABLE_SCALE = 0.01
# (name, days at 15-min cadence, bales): fixed per-station cost vs per-row cost
STATIONS = (("month", 30, 2), ("season", 92, 3))


class StationETL:
    """L0 TOA5 bales -> L1 CSV -> L2 CSV -> L2 NetCDF through SiteEngine."""

    # a single pass this early in the warm-up spread too widely from run to
    # run; the median of two is steadier (README, "Run budget")
    steady_passes = 2

    def __init__(self, spark, work: str, seed: int, tracer) -> None:
        import stations

        self.spark = spark
        self.sites = {}
        for name, days, bales in STATIONS:
            st = stations.make_station(seed, days, bales)
            root = os.path.join(work, name)
            toml = stations.write_station(st, root, f"{name.upper()}{seed}")
            self.sites[name] = (st, root, toml)
        self.ops = [name for name, _, _ in STATIONS]

    def run(self, op: str, cold: bool) -> None:
        from cassandra_fs_pp_spark.engine import SiteEngine

        _, root, toml = self.sites[op]
        out = os.path.join(root, "out")
        eng = SiteEngine(self.spark, toml, root)
        l1 = eng.level0_to_level1()
        eng.write_l1(l1, os.path.join(out, "l1"))
        l1 = eng.load_level1(os.path.join(out, "l1"))
        cal = eng.load_calibrations(os.path.join(root, "calibration.csv"))
        l2 = eng.level1_to_level2(l1, cal)
        eng.write_l2_csv(l2, os.path.join(out, "l2"))
        eng.to_netcdf(l2, os.path.join(out, "l2.nc"))

    def check(self) -> list[str]:
        import stations

        problems = []
        for name, (st, root, _) in self.sites.items():
            out = os.path.join(root, "out")
            try:
                found = stations.check_products(
                    st, os.path.join(out, "l1"), os.path.join(out, "l2"), os.path.join(out, "l2.nc")
                )
            except (OSError, ValueError) as e:
                found = [f"products unreadable: {e}"]
            problems += [f"{name}: {p}" for p in found]
        return problems


class RegistryQueries:
    """Registry time-series and curation queries over seeded tables, read
    only.  The cold pass collects each result for the oracle check; steady
    passes write to a noop sink."""

    # a second pass would not fit the run budget (README, "Run budget")
    steady_passes = 1

    def __init__(self, spark, work: str, seed: int, tracer) -> None:
        import __spark_entry__ as entry
        import oracle
        import tables

        self.spark, self.tracer = spark, tracer
        self.sf_dir = tables.write_tables(seed, TABLE_SCALE, os.path.join(work, "tables"))
        self.ops = TIMESERIES + CURATION
        self.expected = oracle.expected(self.sf_dir, self.ops)
        self.registry = entry.queries()
        self.results = {}

    def run(self, op: str, cold: bool) -> None:
        span = self.tracer.span if self.tracer else lambda name: nullcontext()
        with span("query.build"):
            df = self.registry[op](self.spark, self.sf_dir)
        if self.tracer:
            self.tracer.note_frame(df)
        with span("query.exec"):
            if cold:
                self.results[op] = df.toPandas()
            else:
                df.write.format("noop").mode("overwrite").save()

    def check(self) -> list[str]:
        import oracle

        problems = []
        for op in self.ops:
            if op in self.results:
                problems += [f"{op}: {p}" for p in oracle.compare(self.results[op], self.expected[op])]
        return problems


WORKLOADS = {"station_etl": StationETL, "registry_queries": RegistryQueries}


def install_spans(tracer) -> None:
    """Wrap the public functions each layer is entered through, on the
    binding its caller uses."""
    import __spark_entry__ as entry
    import cassandra_fs_pp_spark.engine as engine
    import cassandra_fs_pp_spark.netcdf3 as netcdf3
    import cassandra_fs_pp_spark.plans.levels as levels
    import cassandra_fs_pp_spark.session as session
    import cassandra_fs_pp_spark.sources.tables as tables_mod

    for owner in (entry, engine, session):
        tracer.wrap(owner, "tune", "session.tune")
    for owner in (entry, tables_mod):
        tracer.wrap(owner, "load_table", "sources.tables.load")
    tracer.wrap(levels, "read_toa5", "sources.toa5.read")
    tracer.wrap(levels, "level0_to_level1", "levels.l0_l1_build")
    tracer.wrap(levels, "load_level1_csv", "levels.l1_load")
    tracer.wrap(levels, "level1_to_level2", "levels.l1_l2_build")
    tracer.wrap(engine.SiteEngine, "write_l1", "sinks.l1_csv")
    tracer.wrap(engine.SiteEngine, "write_l2_csv", "sinks.l2_csv")
    tracer.wrap(engine.SiteEngine, "to_netcdf", "sinks.netcdf")
    tracer.wrap(netcdf3, "write_netcdf3", "netcdf3.write")


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    jvm_kb = 0
    with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def stop(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to end."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="sitebench: one workload, one seed")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import __spark_entry__ as entry
    from cassandra_fs_pp_spark.session import get_spark

    entry.queries()
    spark = get_spark("sitebench")
    setup_s = time.time() - T0
    spark.sparkContext.setLogLevel("ERROR")

    os.makedirs(WORK, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{a.workload}-{a.seed}-", dir=WORK)
    try:
        tracer = None
        if a.trace:
            from layers import Tracer

            tracer = Tracer(spark)
            install_spans(tracer)
        wl = WORKLOADS[a.workload](spark, work, a.seed, tracer)

        attempted = failed = 0
        walls: list[float] = []
        op_times: dict[str, list[float]] = {op: [] for op in wl.ops}
        steady_ops: list[str] = []

        def one_pass(idx: int, steady: bool) -> None:
            nonlocal attempted, failed
            start = time.time()
            for op in wl.ops:
                op_id = f"{idx}:{op}"
                attempted += 1
                t = time.time()
                try:
                    with tracer.operation(op_id) if tracer else nullcontext():
                        wl.run(op, cold=idx == 0)
                except Exception:
                    failed += 1
                    traceback.print_exc()
                if steady:
                    op_times[op].append(time.time() - t)
                    steady_ops.append(op_id)
            walls.append(time.time() - start)

        one_pass(0, steady=False)
        steady_start = time.time()
        while len(walls) <= wl.steady_passes or time.time() - steady_start < a.seconds:
            one_pass(len(walls), steady=True)
        problems = wl.check()
        for p in problems:
            print(f"CHECK FAILED {p}", file=sys.stderr)

        steady = walls[1:]
        if tracer:
            tracer.close()
            metrics = tracer.layer_metrics(steady_ops, len(steady))
            metrics["traced.steady_s"] = statistics.median(steady)
            metrics["jvm.old_gen_peak_mb"] = tracer.old_gen_peak_mb()
            from layers import metric_units

            units = metric_units()
            tracer.dump(os.path.join(WORK, f"spans-{a.workload}-{a.seed}.jsonl"))
            out = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
        else:
            medians = [statistics.median(ts) for ts in op_times.values()]
            out = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "cold_s": {"value": walls[0], "unit": "s"},
                "steady_s": {"value": statistics.median(steady), "unit": "s"},
                "op_geomean_s": {
                    "value": math.exp(sum(math.log(m) for m in medians) / len(medians)),
                    "unit": "s",
                },
                "peak_rss_mb": {"value": peak_rss_mb(spark), "unit": "MB"},
            }
        print(json.dumps({"pass_s": walls, "op_s": op_times}), file=sys.stderr)
    finally:
        stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": not problems, "attempted": attempted, "failed": failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
