"""Closed-loop benchmark of the registry ops on one local Spark session.

Usage (from the repository root):

    python3 perfbench/run.py --workload groupby_session --seed 1 --seconds 6 --trace 0

One client issues the next op only after the previous op's result has been
written to the ``noop`` sink. A run:

1. generates its input tables from ``--seed`` (perfbench/datagen.py);
2. sets up the session several times (session start, table load) and
   reports the median as ``setup_s``;
3. runs one untimed pass that checks every op's output against its DuckDB
   oracle; it is also the run's warm-up;
4. runs timed passes, each in a seeded shuffle order, until ``--seconds``
   have elapsed, at least three, always finishing the pass it is in.

Every pass runs the ops one after another on the driver thread.
``--trace 0`` prints the end-to-end metrics: ``setup_s`` and ``rows_per_s``
(source rows one pass reads over the sum of each op's median latency across
the timed passes; a median per op keeps a burst of host contention in one
op from moving the figure). ``--trace 1`` alternates untraced and traced
passes and prints the per-layer metrics of the traced ones (see
perfbench/tracing.py), plus the tracing overhead. The last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed``,
``metrics``. The line before it is a JSON ``report`` with the details
(sample counts, error rate, host sentinel, every op sample).
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shlex
import statistics
import sys
import time

import datagen
from tracing import SparkCounters, TableRecorder, Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
SETUP_REPEATS = 5
# Pass times keep falling for about ten passes after the cold check pass as
# the JVM compiles the hot paths, so the figures depend on how many timed
# passes are taken. The benchmark's run_seconds is chosen so that this
# minimum is what a run takes on 4 cores, quiet host or busy.
MIN_PASSES = 3

# Each workload: scale factor of the generated inputs, the tables set-up
# loads, and the registry ops (``queries()`` names, or ``_q_<name>``
# callables) one pass runs. The cold check pass takes 12-20 s; once warm, a
# pass takes 3-6 s on 4 cores, and a run 40-50 s on a quiet host.
WORKLOADS = {
    # The pandas-plus analyst surface: groupby.core, groupby.pivot,
    # functions.ordered and operators.joins; no other operators.* code runs.
    "groupby_session": {
        "sf": 0.01,
        "tables": ["lineitem", "events"],
        "ops": ["q1_pricing_summary", "crosstab_pivot", "group_rank_scale",
                "asof_join"],
    },
    # The LLM-data operators (operators.*): build-phase eager sub-jobs and
    # util.lineage_cut dominate. No groupby or functions.ordered code runs.
    "curation_suite": {
        "sf": 0.01,
        "tables": ["documents", "embeddings"],
        "ops": ["dedup_exact", "knn_cosine", "pack_chunks", "unigram_ppl",
                "quality_classifier", "c4_filter"],
    },
}
SMOKE_SF = 0.001


def _configure_process() -> int:
    """Pin the session to this host and keep every file it writes under
    the work directory. Returns the CPU count the session will use."""
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    local_dirs = os.path.join(WORK, "spark-local")
    os.makedirs(local_dirs, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = local_dirs
    # sf0.01 inputs need a fraction of the engine's default 8g heap
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    warehouse = os.path.join(WORK, "warehouse")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", shlex.quote(f"spark.sql.warehouse.dir=file:{warehouse}"),
        "pyspark-shell"])
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]
    return cpus


def _import_program():
    try:
        import __spark_entry__ as entry
        import oracle_harness
        from pandas_plus_spark import session, sources, util
    except ImportError as e:
        sys.exit(f"perfbench: cannot import the program from {ROOT}: {e}")
    return entry, oracle_harness, session, sources, util


def _steal_s() -> float:
    """Cumulative steal time of all CPUs (the 8th field of /proc/stat)."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def _sentinel_s(reps: int = 3) -> float:
    """Median time of a fixed pure-Python burn: moves only with the host."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        x = 0
        for i in range(1_000_000):
            x += i * i
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


class Bench:
    def __init__(self, args, cpus: int):
        self.args = args
        self.cpus = cpus
        self.entry, self.oracle, self.session, self.sources, self.util = _import_program()
        spec = WORKLOADS[args.workload]
        self.ops = list(spec["ops"])
        self.tables = spec["tables"]
        self.sf = SMOKE_SF if args.smoke else spec["sf"]
        self.sf_dir = os.path.join(
            WORK, "data", f"sf{self.sf}-seed{args.seed}-{datagen.SOURCE_HASH}")
        t0 = time.perf_counter()
        self.rows = datagen.generate(self.sf_dir, args.seed, self.sf)
        self.datagen_s = time.perf_counter() - t0
        registry = self.entry.queries()
        self.fns = {n: registry.get(n) or getattr(self.entry, f"_q_{n}") for n in self.ops}
        self.rng = random.Random(args.seed)
        self.attempted = 0
        self.failures: list[str] = []
        self.spark = None

    # -- set-up ----------------------------------------------------------

    def set_up(self) -> tuple[float, float]:
        """Start a session and load the workload's tables.
        Returns (total seconds, session-start seconds)."""
        t0 = time.perf_counter()
        self.spark = self.session.get_spark(app_name=f"perfbench-{self.args.workload}")
        self.spark.sparkContext.setLogLevel("ERROR")
        boot = time.perf_counter() - t0
        for name in self.tables:
            self.sources.load_table(self.spark, self.sf_dir, name).schema
        return time.perf_counter() - t0, boot

    # -- correctness -----------------------------------------------------

    def check_pass(self) -> float:
        """One untimed pass that collects every op's output and checks it
        against DuckDB. Also records which tables each op reads."""
        t0 = time.perf_counter()
        con = self.oracle.duck_connection(self.sf_dir)
        oracles = self.entry.oracle_sql()
        with TableRecorder() as recorder:
            for name in self.ops:
                self.attempted += 1
                recorder.op = name
                try:
                    df = self.fns[name](self.spark, self.sf_dir)
                    got = df.toPandas()
                    self._release(df)
                    problems = self.oracle.compare(got, con.sql(oracles[name]).df())
                except Exception as e:  # noqa: BLE001 - counted as a failure
                    self.spark.catalog.clearCache()
                    problems = [f"{type(e).__name__}: {str(e)[:300]}"]
                if problems:
                    self.failures.append(f"{name}: {'; '.join(problems[:3])}")
                    print(f"perfbench: CHECK FAILED {name}: {problems[:3]}", file=sys.stderr)
        con.close()
        self.rows_per_pass = sum(self.rows[t] for n in self.ops
                                 for t in recorder.tables.get(n, ()))
        self.tables_read = {n: sorted(recorder.tables.get(n, ())) for n in self.ops}
        return time.perf_counter() - t0

    # -- passes ----------------------------------------------------------

    def _release(self, df) -> int:
        """Free the op's pins, then whatever is still registered. Returns
        how many cache entries release_cached left behind."""
        self.util.release_cached(df)
        leaked = self.spark._jsparkSession.sharedState().cacheManager().numCachedEntries()
        self.spark.catalog.clearCache()
        return int(leaked)

    def _run_plain(self, name: str):
        df = self.fns[name](self.spark, self.sf_dir)
        df.write.format("noop").mode("overwrite").save()
        return df

    def _run_traced(self, name: str, tracer, counters, acc):
        tracer.op = name
        job0 = counters.next_job_id()
        try:
            with tracer.span(f"op:{name}", "op"):
                with tracer.span("build", "driver") as b:
                    df = self.fns[name](self.spark, self.sf_dir)
                with tracer.span("plan", "catalyst") as p:
                    df._jdf.queryExecution().executedPlan()
                with tracer.span("run", "exec"):
                    df.write.format("noop").mode("overwrite").save()
        finally:
            tracer.op = None
        acc["driver.build_s"] += b["end"] - b["start"]
        acc["driver.build_jobs"] += b["jobs"]
        acc["catalyst.plan_s"] += p["end"] - p["start"]
        for key, value in counters.jobs(job0, counters.next_job_id()).items():
            acc[key] += value
        return df

    def run_pass(self, traced: bool = False, tracer=None, counters=None, acc=None) -> dict:
        """Run every op once, in a seeded shuffle, each to the end of its
        noop write. A failed op's time up to the failure still counts."""
        order = list(self.ops)
        self.rng.shuffle(order)
        lat: dict[str, float] = {}
        leaked = 0
        failed = False
        for name in order:
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                if traced:
                    df = self._run_traced(name, tracer, counters, acc)
                else:
                    df = self._run_plain(name)
            except Exception as e:  # noqa: BLE001 - report and keep running
                lat[name] = time.perf_counter() - t0
                failed = True
                self.failures.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
                print(f"perfbench: OP FAILED {name}: {e}", file=sys.stderr)
                self.spark.catalog.clearCache()
                continue
            lat[name] = time.perf_counter() - t0
            leaked += self._release(df)
        return {"traced": traced, "lat": lat, "wall": sum(lat.values()),
                "leaked": leaked, "failed": failed}

    def timed(self):
        args = self.args
        counters = SparkCounters(self.spark) if args.trace else None
        tracer = Tracer(counters) if args.trace else None
        acc = {k: 0.0 for k in ("driver.build_s", "driver.build_jobs", "catalyst.plan_s",
                                "jobs", "stages", "stages_skipped", "tasks", "run_s",
                                "cpu_s", "gc_s", "input_bytes", "shuffle_write_bytes",
                                "shuffle_read_bytes", "spill_bytes")}
        passes: list[dict] = []
        gc_s = 0.0
        # traced runs alternate untraced/traced passes in ABBA order
        min_passes = 4 if args.trace else MIN_PASSES
        start = time.perf_counter()
        while True:
            if args.smoke and len(passes) == (2 if args.trace else 1):
                break
            if (not args.smoke and time.perf_counter() - start >= args.seconds
                    and len(passes) >= min_passes):
                break
            traced = bool(args.trace) and len(passes) % 4 in (1, 2)
            if traced:
                tracer.install()
                gc0 = counters.driver_gc_s()
                passes.append(self.run_pass(True, tracer, counters, acc))
                gc_s += counters.driver_gc_s() - gc0
                tracer.uninstall()
            else:
                passes.append(self.run_pass())
        return passes, tracer, acc, gc_s

    def close(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


def _stop_jvm() -> None:
    """End the JVM the session ran in and wait for it: it exits when its
    stdin closes."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=120)


def _metric(value, unit):
    return {"value": value, "unit": unit}


def _layer_metrics(bench, passes, tracer, acc, gc_s, boot_s, host) -> dict:
    traced = [p for p in passes if p["traced"]]
    plain = [p for p in passes if not p["traced"]]
    n = len(traced)
    wall = sum(p["wall"] for p in traced) / n
    m = {
        "driver.build_s": _metric(acc["driver.build_s"] / n, "s"),
        "driver.build_jobs": _metric(acc["driver.build_jobs"] / n, "count"),
        "catalyst.plan_s": _metric(acc["catalyst.plan_s"] / n, "s"),
        "spark.jobs": _metric(acc["jobs"] / n, "count"),
        "spark.stages": _metric(acc["stages"] / n, "count"),
        "spark.stages_skipped": _metric(acc["stages_skipped"] / n, "count"),
        "spark.tasks": _metric(acc["tasks"] / n, "count"),
        "exec.run_s": _metric(acc["run_s"] / n, "s"),
        "exec.cpu_s": _metric(acc["cpu_s"] / n, "s"),
        "exec.gc_s": _metric(acc["gc_s"] / n, "s"),
        "exec.busy_frac": _metric(acc["run_s"] / n / (wall * bench.cpus), "ratio"),
        "scan.input_bytes": _metric(acc["input_bytes"] / n, "bytes"),
        "shuffle.write_bytes": _metric(acc["shuffle_write_bytes"] / n, "bytes"),
        "shuffle.read_bytes": _metric(acc["shuffle_read_bytes"] / n, "bytes"),
        "spill.bytes": _metric(acc["spill_bytes"] / n, "bytes"),
    }
    for layer, t in tracer.layer_totals().items():
        m[f"{layer}.calls"] = _metric(t["calls"] / n, "count")
        m[f"{layer}.self_s"] = _metric(t["self_s"] / n, "s")
        m[f"{layer}.eager_jobs"] = _metric(t["eager_jobs"] / n, "count")
    m["session.boot_s"] = _metric(boot_s, "s")
    m["jvm.driver_gc_s"] = _metric(gc_s / n, "s")
    m["cache.leaked_after_release"] = _metric(sum(p["leaked"] for p in traced) / n, "count")
    m["host.steal_s"] = _metric(host["steal_s"], "s")
    m["host.sentinel_s"] = _metric(host["sentinel_s"], "s")
    untraced = statistics.median(p["wall"] for p in plain)
    m["trace.overhead_frac"] = _metric(
        statistics.median(p["wall"] for p in traced) / untraced - 1.0, "ratio")
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help=f"inputs at sf{SMOKE_SF} and exactly one timed pass per kind")
    args = ap.parse_args(argv)

    cpus = _configure_process()
    bench = Bench(args, cpus)
    try:
        setups, boots = [], []
        for i in range(SETUP_REPEATS):
            if i:
                bench.close()
            total, boot = bench.set_up()
            setups.append(total)
            boots.append(boot)
        check_s = bench.check_pass()
        sentinel_before, steal_before = _sentinel_s(), _steal_s()
        passes, tracer, acc, gc_s = bench.timed()
        host = {"steal_s": _steal_s() - steal_before,
                "sentinel_before_s": sentinel_before, "sentinel_after_s": _sentinel_s()}
        host["sentinel_s"] = (host["sentinel_before_s"] + host["sentinel_after_s"]) / 2
        if tracer is not None:
            tracer.dump(os.path.join(WORK, "traces",
                                     f"{args.workload}-seed{args.seed}.jsonl"))
    finally:
        bench.close()
        _stop_jvm()

    plain = [p for p in passes if not p["traced"]]
    lat = [v for p in plain for v in p["lat"].values()]
    failed = len(bench.failures)
    # One pass's time, taken op by op: the sum of each op's median latency.
    pass_s = sum(statistics.median(p["lat"][n] for p in plain) for n in bench.ops)
    report = {
        "workload": args.workload, "seed": args.seed, "cpus": cpus, "sf": bench.sf,
        "table_rows": bench.rows, "rows_per_pass": bench.rows_per_pass,
        "tables_read": bench.tables_read, "datagen_s": bench.datagen_s,
        "setup_samples_s": setups, "session_start_samples_s": boots,
        "check_s": check_s,
        "passes": len(plain), "traced_passes": len(passes) - len(plain),
        "pass_s": [p["wall"] for p in plain], "median_op_sum_s": pass_s,
        "op_p50_s": {"value": statistics.median(lat), "unit": "s", "samples": len(lat)},
        "error_rate": {"value": failed / bench.attempted, "unit": "ratio",
                       "samples": bench.attempted},
        "failures": bench.failures,
        "host": host, "op_s": {n: [p["lat"].get(n) for p in plain] for n in bench.ops},
    }
    print(json.dumps({"report": report}))
    if args.trace:
        metrics = _layer_metrics(bench, passes, tracer, acc, gc_s, boots[0], host)
    else:
        # A timed op that failed fast would flatter the throughput: withhold it.
        timed_failed = any(p["failed"] for p in passes)
        metrics = {
            "setup_s": _metric(statistics.median(setups), "s"),
            "rows_per_s": _metric(None if timed_failed else bench.rows_per_pass / pass_s,
                                  "rows/s"),
        }
    print(json.dumps({"correct": failed == 0, "attempted": bench.attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
