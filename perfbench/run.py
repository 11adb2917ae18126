"""Closed-loop benchmark of the medallion pipeline and the query registry.

Run from the repository root:

    python3 perfbench/run.py --workload cdc_update --seed 1 --seconds 14 --trace 0

One client in one process drives Spark ``local[min(4, nproc)]``:

* ``cdc_update`` bootstraps a generated four-entity raw folder once;
  each op then lands one CDC file per entity, runs ``load_config`` and
  ``Pipeline.run()`` (streaming bronze, full silver, ``_active``
  views) and reads every ``_active`` view back.
* ``query_mix`` generates the query tables; each op is one pass over
  ``query_mix.QUERIES`` (build, then collect).

Every measured op's output is checked, untimed: medallion silver and
views against a DuckDB replay of the raw files, query results against
each query's registered DuckDB oracle. The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``, the
end-to-end metrics with ``--trace 0`` and the per-layer metrics with
``--trace 1`` (see README.md). A load sentinel line goes to stderr on
every run.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

import medallion_data as md
import query_mix as qm
import tpch_data
from spans import Tracer, fold, per_op_medians, read_events

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".bench_work")
CPUS = min(4, len(os.sched_getaffinity(0)))

# cdc_update: the raw folder, the per-op CDC file, untimed warm-up ops
N_KEYS = 20_000
N_FILES = 8
CDC_ROWS = 1_000
CDC_WARMUP_OPS = 2
VIEW_READS_PER_OP = 2  # read_p50_s samples per op
# query_mix: table scale factor, untimed warm-up passes (the first is cold)
SF = 0.01
QM_WARMUP_PASSES = 3
SPIN_N = 2_000_000  # load sentinel: a fixed pure-Python loop

WORKLOADS = ("cdc_update", "query_mix")
SPAN_LAYERS = ("config.load_config", "plans.build_bronze", "plans.build_silver",
               "plans.build_views", "views.read")
SPAN_SUFFIXES = (("s", "s"), ("driver_s", "s"), ("jobs", "count"), ("tasks", "count"),
                 ("executor_run_s", "s"), ("executor_cpu_s", "s"),
                 ("shuffle_write_bytes", "bytes"), ("output_bytes", "bytes"))
QUERY_SUFFIXES = (("build_s", "s"), ("action_s", "s"), ("jobs", "count"), ("tasks", "count"),
                  ("executor_run_s", "s"), ("python_udf_s", "s"))
STORAGE = (("storage.bronze_files", "count"), ("storage.silver_files", "count"),
           ("storage.silver_bytes", "bytes"))
RUN_LEVEL = (("proc.peak_rss_mb", "MB"), ("box.cpu_spin_s", "s"), ("box.loadavg_1m", "load"),
             ("trace.overhead_ratio", "ratio"))
END_TO_END = (("setup_s", "s"), ("op_p50_s", "s"), ("read_p50_s", "s"))


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric name with its unit, in output order."""
    names = [(f"{layer}.{suffix}", unit) for layer in SPAN_LAYERS for suffix, unit in SPAN_SUFFIXES]
    names += list(STORAGE)
    names += [(f"queries.{q}.{suffix}", unit) for q in qm.QUERIES for suffix, unit in QUERY_SUFFIXES]
    return names + list(RUN_LEVEL)


def spin_s() -> float:
    t = time.perf_counter()
    x = 0
    for i in range(SPIN_N):
        x += i * i
    return time.perf_counter() - t


class Session:
    """A Spark session whose scratch, warehouse and event log live in a
    fresh directory of this run, and whose JVM is gone after ``stop``."""

    def __init__(self, work: str, trace: bool) -> None:
        self.work = work
        self.eventlog = os.path.join(work, "eventlog")
        local, tmp = os.path.join(work, "local"), os.path.join(work, "tmp")
        for d in (local, tmp, self.eventlog):
            os.makedirs(d)
        os.environ["SPARK_LOCAL_DIRS"] = local
        tempfile.tempdir = tmp  # temp dirs the engine's queries make land here too
        confs = {
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.local.dir": local,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
        }
        if trace:
            confs.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.eventlog,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        from datapipeline_template_spark.session import get_spark

        self.spark = get_spark(app_name="perfbench", master=f"local[{CPUS}]",
                               shuffle_partitions=CPUS, extra_confs=confs)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.warehouse = confs["spark.sql.warehouse.dir"]

    def jvm_peak_rss_mb(self) -> float:
        proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        try:
            with open(f"/proc/{proc.pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024.0
        except (AttributeError, OSError):
            pass
        return 0.0

    def stop(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


class Tracing:
    """Spans and the UDF profiler for the instrumented ops of a traced
    run; a no-op for plain ops and untraced runs."""

    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.tracer = Tracer(spark.sparkContext)
        self.active = False
        self.ops: list[int] = []

    def begin_op(self, op: int, instrumented: bool) -> None:
        self.active = self.enabled and instrumented
        self.tracer.op = op
        if self.active:
            self.ops.append(op)
        if self.enabled:
            key = "spark.sql.pyspark.udf.profiler"
            if self.active:
                self.spark.conf.set(key, "perf")
            else:
                self.spark.conf.unset(key)

    def span(self, name: str):
        return self.tracer.span(name) if self.active else contextlib.nullcontext()

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def udf_seconds(self) -> float:
        """Python-worker time the perf profiler collected since the last
        call (cProfile total time over every UDF)."""
        import pstats

        out = tempfile.mkdtemp(prefix="profile-")
        try:
            self.spark.profile.dump(out, type="perf")
            total = sum(pstats.Stats(p).total_tt for p in glob.glob(os.path.join(out, "*")))
        finally:
            shutil.rmtree(out)
            self.spark.profile.clear(type="perf")
        return total


def _files(folder: str, suffix: str) -> list[str]:
    return [p for p in glob.glob(os.path.join(folder, "**", f"*{suffix}"), recursive=True)
            if "_spark_metadata" not in p]


class CdcUpdate:
    """Triggered CDC update of the medallion pipeline."""

    def __init__(self, sess: Session, tracing: Tracing, seed: int) -> None:
        import duckdb

        from datapipeline_template_spark.config import PipelineParams

        self.sess, self.tracing, self.seed = sess, tracing, seed
        self.spark = sess.spark
        self.raw = os.path.join(sess.work, "raw")
        self.cfg = os.path.join(sess.work, "dp_config.json")
        self.ckpt = os.path.join(sess.work, "checkpoints")
        self.params = PipelineParams(source_location=self.raw, soft_deletes="Y")
        self.next_file = N_FILES
        self.con = duckdb.connect()
        self.layer_samples: list[dict[str, float]] = []

    def _table_dir(self, db: str, table: str) -> str:
        return os.path.join(self.sess.warehouse, f"{db}.db", table)

    def setup(self) -> float:
        """Generate, bootstrap and warm up; returns the untimed seconds."""
        self.keys = md.generate(self.raw, self.seed, N_KEYS, N_FILES)
        md.write_config(self.cfg)
        self._run_pipeline()
        for _ in range(CDC_WARMUP_OPS):
            self.op()
        return 0.0

    def _run_pipeline(self) -> None:
        from datapipeline_template_spark.config import load_config
        from datapipeline_template_spark.plans.pipeline import Pipeline

        with self.tracing.span("config.load_config"):
            entities = load_config(self.spark, self.cfg)
        pipe = Pipeline(self.spark, self.params, entities, checkpoint_root=self.ckpt)
        for method in ("build_bronze", "build_silver", "build_views"):
            setattr(pipe, method, self.tracing.wrap(f"plans.{method}", getattr(pipe, method)))
        pipe.run()

    def op(self) -> tuple[float, list[float], dict]:
        md.cdc_batch(self.raw, self.seed, self.keys, self.next_file, CDC_ROWS)
        self.next_file += 1
        t0 = time.perf_counter()
        self._run_pipeline()
        op_s = time.perf_counter() - t0
        reads = []
        for _ in range(VIEW_READS_PER_OP):
            t1 = time.perf_counter()
            with self.tracing.span("views.read"):
                active = {
                    e.name: self.spark.table(
                        f"{self.params.silver_db}_active.silver_{e.name}_active").toArrow()
                    for e in md.ENTITIES
                }
            reads.append(time.perf_counter() - t1)
        if self.tracing.active:
            self._storage_sample()
        return op_s, reads, active

    def _storage_sample(self) -> None:
        bronze = sum(len(_files(self._table_dir(self.params.bronze_db, f"bronze_{e.name}"),
                                ".parquet")) for e in md.ENTITIES)
        silver = [p for e in md.ENTITIES
                  for p in _files(self._table_dir(self.params.silver_db, f"silver_{e.name}"),
                                  ".parquet")]
        self.layer_samples.append({
            "storage.bronze_files": bronze,
            "storage.silver_files": len(silver),
            "storage.silver_bytes": sum(os.path.getsize(p) for p in silver),
        })

    def check(self, active: dict) -> list[str]:
        dirs = {e.name: self._table_dir(self.params.silver_db, f"silver_{e.name}")
                for e in md.ENTITIES}
        return md.check(self.con, self.raw, dirs, active)

    def layer_metrics(self) -> dict[str, float]:
        return {k: statistics.median(s[k] for s in self.layer_samples)
                for k, _ in STORAGE} if self.layer_samples else {}


class QueryMix:
    """Read-only serving: passes over registered queries."""

    def __init__(self, sess: Session, tracing: Tracing, seed: int) -> None:
        from datapipeline_template_spark.queries import load_all

        self.sess, self.tracing, self.seed = sess, tracing, seed
        self.spark = sess.spark
        self.data = os.path.join(sess.work, "tables")
        self.registry = load_all()
        self.udf_s: dict[str, list[float]] = {q: [] for q in qm.QUERIES}

    def setup(self) -> float:
        """Generate, run the oracles and warm up; returns the untimed
        seconds (the oracle run belongs to the output check)."""
        tpch_data.generate(self.data, self.seed, SF)
        t = time.perf_counter()
        self.oracle = qm.oracle_hashes(self.data, {q: self.registry[q].oracle for q in qm.QUERIES})
        untimed = time.perf_counter() - t
        for _ in range(QM_WARMUP_PASSES):
            self.op()
        return untimed

    def op(self) -> tuple[float, list[float], list]:
        """One pass: its time, its collect time, the results."""
        pass_s = collect_s = 0.0
        results = []
        for q in qm.QUERIES:
            t0 = time.perf_counter()
            with self.tracing.span(f"queries.{q}.build"):
                df = self.registry[q].fn(self.spark, self.data)
            t1 = time.perf_counter()
            with self.tracing.span(f"queries.{q}.action"):
                rows = df.collect()
            t2 = time.perf_counter()
            pass_s += t2 - t0
            collect_s += t2 - t1
            results.append((q, df.columns, rows))
            if self.tracing.active:
                self.udf_s[q].append(self.tracing.udf_seconds())
        return pass_s, [collect_s], results

    def check(self, results: list) -> list[str]:
        return [f"{q}: result hash differs from its oracle" for q, cols, rows in results
                if qm.rows_hash(cols, rows) != self.oracle[q]]

    def layer_metrics(self) -> dict[str, float]:
        return {f"queries.{q}.python_udf_s": statistics.median(v)
                for q, v in self.udf_s.items() if v}


def measure(args, t_start: float) -> dict:
    trace = bool(args.trace)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=WORK_ROOT)
    sess = None
    try:
        sess = Session(work, trace)
        tracing = Tracing(sess.spark, trace)
        workload = CdcUpdate if args.workload == "cdc_update" else QueryMix
        wl = workload(sess, tracing, args.seed)
        untimed = wl.setup()
        setup_s = time.perf_counter() - t_start - untimed

        op_s, read_s, op_by_kind = [], [], {True: [], False: []}
        attempted = failed = 0
        t_end = time.perf_counter() + args.seconds
        while time.perf_counter() < t_end:
            instrumented = attempted % 2 == 0  # traced runs alternate
            tracing.begin_op(attempted, instrumented)
            attempted += 1
            try:
                o, r, out = wl.op()
                op_s.append(o)
                read_s.extend(r)
                op_by_kind[instrumented].append(o)
                print(f"op {attempted - 1}: {o:.3f} s", file=sys.stderr)
                bad = wl.check(out)
            except Exception:
                traceback.print_exc()
                bad = ["op raised"]
            if bad:
                failed += 1
                print(f"op {attempted - 1} wrong: {bad}", file=sys.stderr)
        if not trace:
            # no op returned: the metrics read 0 and every op counts as failed
            metrics = {"setup_s": setup_s,
                       "op_p50_s": statistics.median(op_s) if op_s else 0.0,
                       "read_p50_s": statistics.median(read_s) if read_s else 0.0}
            units = dict(END_TO_END)
        else:
            metrics = wl.layer_metrics()
            if op_by_kind[True] and op_by_kind[False]:
                metrics["trace.overhead_ratio"] = (statistics.median(op_by_kind[True])
                                                   / statistics.median(op_by_kind[False]))
            units = dict(per_layer_names())
        jvm_rss = sess.jvm_peak_rss_mb()
        sess.stop()
        sess = None
        if trace:
            (log,) = glob.glob(os.path.join(work, "eventlog", "*"))
            rows = fold(read_events(log), tracing.tracer.spans)
            med = per_op_medians(tracing.tracer.spans, rows, tracing.ops)
            metrics.update(span_metrics(med))
            metrics["proc.peak_rss_mb"] = jvm_rss + resource.getrusage(
                resource.RUSAGE_SELF).ru_maxrss / 1024.0
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": metrics.get(k, 0), "unit": u} for k, u in units.items()},
        }
    finally:
        if sess is not None:
            sess.stop()
        shutil.rmtree(work, ignore_errors=True)


def span_metrics(med: dict[str, dict[str, float]]) -> dict[str, float]:
    out = {}
    for layer in SPAN_LAYERS:
        for suffix, _ in SPAN_SUFFIXES:
            out[f"{layer}.{suffix}"] = med.get(layer, {}).get(suffix, 0.0)
    for q in qm.QUERIES:
        build = med.get(f"queries.{q}.build", {})
        action = med.get(f"queries.{q}.action", {})
        out[f"queries.{q}.build_s"] = build.get("s", 0.0)
        out[f"queries.{q}.action_s"] = action.get("s", 0.0)
        for k in ("jobs", "tasks", "executor_run_s"):
            out[f"queries.{q}.{k}"] = build.get(k, 0.0) + action.get(k, 0.0)
    return out


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "datapipeline_template_spark")):
        print(f"no datapipeline_template_spark package under {ROOT}: run from a full "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.makedirs(WORK_ROOT, exist_ok=True)

    spin0, load0 = spin_s(), os.getloadavg()[0]
    t_start = time.perf_counter()
    result = measure(args, t_start)
    spin1, load1 = spin_s(), os.getloadavg()[0]
    print(f"load sentinel: cpu_spin_s {spin0:.4f} {spin1:.4f} loadavg_1m {load0:.2f} "
          f"{load1:.2f} cpus {CPUS}", file=sys.stderr)
    if args.trace:
        result["metrics"]["box.cpu_spin_s"]["value"] = statistics.median([spin0, spin1])
        result["metrics"]["box.loadavg_1m"]["value"] = statistics.median([load0, load1])
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
