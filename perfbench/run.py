"""Benchmark of the engine through its public entry points.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

One closed-loop client (this thread submits the next query after the last
one completes) on local[<cores>]. A run:

1. generates the workload's tables (cached under .perfbench_cache/, not
   counted in set-up);
2. sets up a session: build_session, Python-worker warmup, the query
   registry, and a first touch of every table (``setup_s``);
3. computes each query's expected result on DuckDB;
4. runs bench.py's two calibration probes, as context;
5. runs one check pass: every query, collected and hashed against its
   oracle (this pass also warms codegen and the JIT);
6. runs whole measured passes, each in a seed-shuffled order, until both
   the workload's ``passes`` are done and ``--seconds`` have passed (a
   fixed pass count keeps the sample count, and so the tail percentile,
   the same from run to run). Each query is timed from the builder call
   to the end of its noop write.

There is no unmeasured warm-up pass. On the SQL twins the JIT keeps
compiling for minutes (on 4 cores it keeps two to three of them busy; the
mix also overflows Spark's 100-entry codegen cache, so every pass compiles
new classes), and latencies fall through every pass a run can afford. A
warm-up pass would cut the samples without reaching a steady state; many
passes, counted whole, average over the warm-up curve instead.

After every query the CacheManager and the temp views are cleared
(protocol.reset_session). With ``--trace 1`` the measured passes run
under ``layers.Tracer`` and the run reports per-layer readings instead of
end-to-end metrics; the two runs' throughputs differ by the tracing
overhead.

The second-to-last stdout line is the run record (per-query latencies in
pass order and their medians, layer readings, failures, calibration
probes, peak memory after each phase, CPU steal); the last line
is the result: {"correct", "attempted", "failed", "metrics"}.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from collections import defaultdict  # noqa: E402

import datagen  # noqa: E402
import protocol  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache")
# The tables are the same for every run seed: the LSH oracles take most of
# a minute on DuckDB for each new data set, which a run cannot afford. The
# run seed sets the query order of every pass.
DATA_SEED = 42


def generate_tier(sf: float) -> str:
    """The benchmark's tables at scale ``sf``, generated once."""
    return datagen.generate_tier(
        os.path.join(CACHE, f"sf{sf}-data{DATA_SEED}"), sf, DATA_SEED)


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def load_workload(name: str) -> dict:
    """The workload's definition from workloads.json, if BENCHMARK.json
    declares it."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = {w["name"] for w in json.load(f)["workloads"]}
    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)
    if name not in declared or name not in workloads:
        raise SystemExit(f"unknown workload {name!r}")
    return workloads[name]


def _confine_to_checkout() -> None:
    """Point the scratch locations of Python, the JVM and Spark into the
    cache directory, before any of them starts. The previous run's scratch
    files are removed first."""
    tmp = os.path.join(CACHE, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "4g"  # bench.py's heap
    os.environ["SPARK_GRAFT_WARMUP"] = "0"  # warmed explicitly, and timed
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


@contextlib.contextmanager
def spark_session(cores: int):
    """The engine's session on local[cores]; stops its JVM on exit."""
    from pyspark import SparkContext

    from presto_0_235_spark.session import build_session

    spark = build_session(
        app_name="perfbench", master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(CACHE, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        })
    gateway = spark.sparkContext._gateway
    try:
        yield spark
    finally:
        spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def _vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _cpu_steal_s() -> float:
    """CPU time the hypervisor has given to other guests (all cores): host
    contention the run's timings include."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def calibration_probes(spark) -> dict[str, float]:
    """bench.py's two machine-speed probes (same shapes: a codegen
    scan-sum and a one-shuffle groupBy), one timed run each."""
    from pyspark.sql import functions as F

    probes = {
        "cpu_scan_sum": lambda: spark.range(500_000_000).agg(
            F.sum("id")).collect(),
        "shuffle_groupby": lambda: spark.range(20_000_000).select(
            (F.col("id") % 100_000).alias("k")).groupBy("k").count()
        .agg(F.sum("count")).collect(),
    }
    out = {}
    for label, thunk in probes.items():
        t0 = time.perf_counter()
        thunk()
        out[label] = time.perf_counter() - t0
    return out


def check_pass(spark, queries, names, data_dir, expected):
    """Run each query once, collected; return the failures, named."""
    failures = []
    for name in names:
        try:
            df = queries[name].builder(spark, data_dir)
            cols = df.columns
            got = (sorted(cols), *protocol.result_hash(cols, df.collect()))
            want = expected.get(name)
            if want is not None and got != want:
                failures.append(
                    f"{name}: columns/rows {got[:2]} != oracle {want[:2]}"
                    if got[:2] != want[:2]
                    else f"{name}: value hash differs from oracle")
        except Exception as ex:  # noqa: BLE001 - count it, name it, go on
            failures.append(f"{name}: {type(ex).__name__}: {ex}"[:300])
        finally:
            protocol.reset_session(spark)
    return failures


def measured_passes(spark, queries, order, data_dir, rng, tracer,
                    min_passes: int, seconds: float) -> dict:
    """Timed whole passes over the workload, each in a fresh shuffled order.

    Returns the latencies, per-query records (latency plus, when traced,
    layer readings), per-pass sums of those readings, the measured wall
    time and the failures.
    """
    cores = spark.sparkContext.defaultParallelism
    out = {"latencies": [], "per_query": defaultdict(list), "passes": [],
           "measured_s": 0.0, "attempted": 0, "failures": []}
    while len(out["passes"]) < min_passes or out["measured_s"] < seconds:
        rng.shuffle(order)
        totals: dict[str, float] = defaultdict(float)
        t_pass = time.perf_counter()
        for name in order:
            out["attempted"] += 1
            build = queries[name].builder
            try:
                t0 = time.perf_counter()
                if tracer:
                    rec = tracer.run(
                        lambda b=build: b(spark, data_dir), _noop_write)
                else:
                    _noop_write(build(spark, data_dir))
                    rec = {}
                latency = time.perf_counter() - t0
            except Exception as ex:  # noqa: BLE001 - count it, name it, go on
                out["failures"].append(
                    f"{name}: {type(ex).__name__}: {ex}"[:300])
                continue
            finally:
                entries, views = protocol.reset_session(spark)
            rec["cache.entries_after"] = entries
            rec["cache.temp_views_after"] = views
            out["latencies"].append(latency)
            out["per_query"][name].append({"latency_s": latency, **rec})
            for key, value in rec.items():
                totals[key] += value
        out["measured_s"] += time.perf_counter() - t_pass
        if tracer:
            totals["exec.core_util"] = totals["exec.task_run_s"] / max(
                totals["exec.wall_s"] * cores, 1e-9)
        out["passes"].append(totals)
    return out


def _median_layers(records: list[dict]) -> dict[str, float]:
    keys = {k for r in records for k in r}
    return {k: statistics.median(r.get(k, 0.0) for r in records)
            for k in sorted(keys)}


def _unit(metric: str) -> str:
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_bytes"):
        return "bytes"
    if metric == "exec.core_util":
        return "ratio"
    return "count"


def run(args) -> tuple[dict, dict]:
    wl = load_workload(args.workload)
    steal0 = _cpu_steal_s()
    _confine_to_checkout()
    t0 = time.perf_counter()
    data_dir = generate_tier(wl["sf"])
    phase_s = {"datagen": time.perf_counter() - t0}

    from presto_0_235_spark.catalog import TABLES, load_table
    from presto_0_235_spark.session import warmup_python_workers

    setup: dict[str, float] = {}
    t0 = time.perf_counter()
    with spark_session(len(os.sched_getaffinity(0))) as spark:
        jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()

        def peak_rss_mb() -> float:
            return _vm_hwm_mb(jvm_pid) + _vm_hwm_mb("self")

        setup["session.build_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        warmup_python_workers(spark)
        setup["session.warmup_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        from presto_0_235_spark.queries.registry import all_queries

        queries = all_queries()
        setup["registry.load_s"] = time.perf_counter() - t0
        for table in TABLES:
            load_table(spark, data_dir, table)
        setup_s = time.perf_counter() - T0 - phase_s["datagen"]
        rss_mb = {"setup": peak_rss_mb()}

        names = list(wl["queries"])
        t0 = time.perf_counter()
        expected = protocol.oracle_hashes(data_dir, {
            n: queries[n].oracle for n in names if queries[n].oracle})
        phase_s["oracle"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        probes = calibration_probes(spark)
        phase_s["probes"] = time.perf_counter() - t0
        rss_mb["probes"] = peak_rss_mb()
        rng = random.Random(args.seed)
        order = names[:]
        rng.shuffle(order)
        t0 = time.perf_counter()
        failures = check_pass(spark, queries, order, data_dir, expected)
        phase_s["check"] = time.perf_counter() - t0
        rss_mb["check"] = peak_rss_mb()
        attempted = len(order)

        tracer = None
        if args.trace:
            from layers import Tracer

            tracer = Tracer(spark)
        steal1 = _cpu_steal_s()
        try:
            m = measured_passes(
                spark, queries, order, data_dir, rng, tracer,
                min_passes=wl["passes"], seconds=args.seconds)
        finally:
            if tracer:
                tracer.close()
        steal2 = _cpu_steal_s()
        failures += m["failures"]
        attempted += m["attempted"]

        rss_mb["passes"] = peak_rss_mb()

    latencies = m["latencies"]
    lat = protocol.latency_summary(latencies) if latencies else None
    qps = len(latencies) / m["measured_s"]
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cores": len(os.sched_getaffinity(0)), "phase_s": phase_s,
        "peak_rss_mb_after": rss_mb,
        "calibration": probes,
        "steal_s": {"run": steal2 - steal0, "passes": steal2 - steal1},
        "attempted": attempted, "failed_frac": len(failures) / attempted,
        "failures": failures, "measured_s": m["measured_s"], "latency": lat,
        "query_median_s": {
            n: statistics.median(r["latency_s"] for r in rs)
            for n, rs in sorted(m["per_query"].items())},
        # in pass order: shows how far the JIT warm-up still runs
        "query_latencies_s": {
            n: [r["latency_s"] for r in rs]
            for n, rs in sorted(m["per_query"].items())},
    }
    if args.trace:
        record["query_layers"] = {
            n: _median_layers(rs) for n, rs in sorted(m["per_query"].items())}
        metrics = {k: (v, "s") for k, v in setup.items()}
        metrics["trace.queries_per_s"] = (qps, "1/s")
        metrics.update((k, (v, _unit(k)))
                       for k, v in _median_layers(m["passes"]).items())
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "queries_per_s": (qps, "1/s"),
            "query_p50_s": (lat["p50"] if lat else 0.0, "s"),
            "query_tail_s": (lat["tail"] if lat else 0.0, "s"),
            "peak_rss_mb": (rss_mb["passes"], "MB"),
        }
    result = {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {
            k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return record, result


def main(argv=None) -> int:
    record, result = run(_args(argv))
    print(json.dumps(record), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
