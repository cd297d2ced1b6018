"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload olap_llm --seed 1 --seconds 10 --trace 0

Run from the repository root: the engine package is imported from the
current directory, and everything the run builds or writes (generated
tables, Spark scratch space, event logs, span files) stays under
``.bench_build/perfbench`` there.

One closed-loop client drives ``local[nproc]`` Spark through
``session.get_spark()``. A run first times a fixed CPU loop (a stamp
of the host's speed), then sets the session up once, from cold (the
process's first gateway JVM), then measures ceil(seconds / unit_s)
units of the workload's fixed work (a pass over its queries, or all of
its ingest days), then checks every output in an untimed pass. ``--trace 1`` runs the first unit untraced, then with
spans, the Spark event log and a streaming progress listener, then
untraced again, and reports the per-layer metrics instead of the
end-to-end ones.

The second-to-last line of output is a detail record (every metric
with its unit, ``failed_ratio`` included, the facts needed to compare
runs, and the op list); the last line is the summary:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import datagen  # noqa: E402
import tracing as tr  # noqa: E402
import workloads as wl  # noqa: E402

DATA_SEED = 42
SF = 0.1
CACHE_VERSION = 1

# The summary line's end-to-end metrics. peak_rss_mb and failed_ratio
# are printed in the detail line only: the first spreads 20-45% between
# runs (JVM heap growth), the second is 0 on a correct run.
E2E_UNITS = {"setup_s": "s", "wall_s": "s", "op_p50_s": "s", "op_tail_s": "s"}
DETAIL_UNITS = {**E2E_UNITS, "peak_rss_mb": "MB", "failed_ratio": "ratio"}

QUERY_LAYERS = {
    "catalog.calls": "count", "catalog.s": "s", "catalog.jobs": "count",
    "build.s": "s", "build.jobs": "count", "plan.s": "s",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s",
    "exec.shuffle_read_bytes": "bytes", "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.busy_ratio": "ratio",
    "udf.python_s": "s", "udf.boot_s": "s", "udf.bytes_sent": "bytes",
}
INGEST_LAYERS = {
    "produce.s": "s", "produce.records": "count",
    "stream.latest_offset_s": "s", "stream.get_batch_s": "s", "stream.add_batch_s": "s",
    "stream.planning_s": "s", "stream.wal_commit_s": "s", "source.records_read": "count",
    "ingest.append_s": "s", "sink.rows_written": "count", "sink.rows_total": "count",
    "ingest.kept_ratio": "ratio",
}
TRACE_LAYERS = {"trace.overhead_ratio": "ratio", "layers.coverage_gap": "ratio"}
LAYER_UNITS = {**QUERY_LAYERS, **INGEST_LAYERS, **TRACE_LAYERS}

_STREAM_DURATIONS = {
    "stream.latest_offset_s": "latestOffset", "stream.get_batch_s": "getBatch",
    "stream.add_batch_s": "addBatch", "stream.planning_s": "queryPlanning",
    "stream.wal_commit_s": "walCommit",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(wl.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true",
                   help="sf0.001 tables and a two-day ingest (the self-test's size)")
    p.add_argument("--inject-wrong", metavar="OP",
                   help="corrupt this op's checked output (self-test only): a query "
                        "name, or 'day' for the ingest sink")
    return p.parse_args(argv)


def tail(latencies: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it:
    ``(value, percentile, samples_beyond)``. Below 21 samples that
    percentile would fall under the median, so the slowest op is
    reported instead (percentile 100, no samples beyond)."""
    xs = sorted(latencies)
    k = len(xs) - 11
    if 100.0 * (k + 1) / len(xs) < 50.0:
        return xs[-1], 100.0, 0
    return xs[k], 100.0 * (k + 1) / len(xs), len(xs) - 1 - k


def host_calibration(reps: int = 5) -> float:
    """Median time of a fixed, deterministic pure-Python CPU loop. It is
    stamped on every result, taken before set-up and after the check,
    so that runs taken while the host ran at another speed can be
    recognised."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        x = 0
        for i in range(600_000):
            x = (x * 31 + i) % 1_000_003
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def host_facts(root: str) -> dict:
    import pyspark

    with open("/proc/meminfo") as fh:
        mem_kb = int(next(line for line in fh if line.startswith("MemTotal")).split()[1])
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                                text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        commit = "unknown"
    digest = hashlib.sha256()  # the engine's source, for checkouts without git
    pkg = os.path.join(root, "pipeline_dataengineer_spark")
    for path in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        digest.update(os.path.relpath(path, pkg).encode())
        with open(path, "rb") as fh:
            digest.update(fh.read())
    return {"cpus": len(os.sched_getaffinity(0)), "host_ram_gb": round(mem_kb / 2**20, 1),
            "git_commit": commit, "engine_sha256": digest.hexdigest()[:16],
            "pyspark": pyspark.__version__,
            "python": sys.version.split()[0]}


def ensure_tables(cache: str, sf: float) -> str:
    """The generated tables for this scale, built once per checkout."""
    out = os.path.join(cache, f"tables-v{CACHE_VERSION}-sf{sf}-seed{DATA_SEED}")
    if not os.path.isdir(out):
        datagen.write_tables(out, sf, DATA_SEED)
    return out


class Bench:
    """One benchmark run: session set-up, timed units, the check pass."""

    def __init__(self, args, root: str):
        self.args = args
        self.root = root
        self.spec = wl.WORKLOADS[args.workload]
        self.kind = self.spec["kind"]
        self.work = os.path.join(root, ".bench_build", "perfbench")
        self.run_dir = os.path.join(self.work, f"run-{os.getpid()}")
        self.tmp = os.path.join(self.run_dir, "tmp")
        os.makedirs(self.tmp, exist_ok=True)
        self.sf = 0.001 if args.tiny else SF
        self.days = 2 if args.tiny else wl.INGEST_DAYS
        self.per_day = 40 if args.tiny else wl.INGEST_PER_DAY
        self.spark = None
        self.op_id = 0
        # each query's DataFrame from its latest op, and each ingest
        # unit's sink, for the check pass
        self.frames: dict = {}
        self.ingest_units: list = []

    # ---- session -------------------------------------------------------

    def conf(self, event_log: str | None = None) -> dict:
        conf = {
            "spark__sql__warehouse__dir": os.path.join(self.run_dir, "warehouse"),
            "spark__driver__extraJavaOptions":
                f"-Djava.io.tmpdir={self.tmp} -Dderby.system.home={self.run_dir}",
            "spark__ui__showConsoleProgress": "false",
        }
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf.update({"spark__eventLog__enabled": "true",
                         "spark__eventLog__dir": f"file://{event_log}",
                         "spark__eventLog__compress": "false"})
        return conf

    def start(self, event_log: str | None = None):
        """``get_spark()`` plus warm-up: codegen through one query, and an
        Arrow UDF job with one task per core so every Python worker is
        up."""
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        from pipeline_dataengineer_spark.contract import QUERIES
        from pipeline_dataengineer_spark.session import get_spark

        spark = get_spark("perfbench", **self.conf(event_log))
        QUERIES["q_agg_group"](spark, self.data_dir).collect()

        @F.pandas_udf(T.DoubleType())
        def _warm(v):
            return v * 1.0

        n = spark.sparkContext.defaultParallelism
        # noop materializes the UDF column; a count would prune it
        (spark.range(0, n * 100, 1, n).select(_warm(F.col("id").cast("double")))
         .write.format("noop").mode("overwrite").save())
        if self.kind == "ingest":
            from pipeline_dataengineer_spark.sources.kafka_sim import register_kafka_log_source

            register_kafka_log_source(spark)
        self.spark = spark
        return spark

    @staticmethod
    def import_engine() -> float:
        """Import PySpark and the engine modules a run uses, outside the
        timed set-up. Returns the import time."""
        t0 = time.perf_counter()
        import pyspark.sql  # noqa: F401

        import pipeline_dataengineer_spark.contract  # noqa: F401
        import pipeline_dataengineer_spark.pipelines.recall_ingest  # noqa: F401
        import pipeline_dataengineer_spark.session  # noqa: F401
        import pipeline_dataengineer_spark.sources.kafka_sim  # noqa: F401
        return time.perf_counter() - t0

    def shutdown(self) -> None:
        """Stop the session, then the gateway JVM, and wait for it (its
        Python workers exit with it)."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None

    # ---- units of work -------------------------------------------------

    def run_unit(self, unit: int, tracer, ops: list, listener=None) -> float:
        """Run one unit of work; append ``(unit, op name, latency, ok)``
        per op to ``ops``. Returns the unit's wall time."""
        if self.kind == "query":
            from pipeline_dataengineer_spark.contract import QUERIES

            t_unit = time.perf_counter()
            for name in wl.query_order(self.spec["queries"], self.args.seed, unit):
                self.op_id += 1
                t0 = time.perf_counter()
                ok = True
                with tracer.span("op", self.op_id):
                    try:
                        self.frames[name] = wl.run_query_op(
                            self.spark, QUERIES, name, self.data_dir, self.op_id, tracer)
                    except Exception as e:  # a failed op is a result, not a crash
                        self.frames.pop(name, None)
                        ok = False
                        print(f"op {name} failed: {type(e).__name__}: {str(e)[:300]}",
                              file=sys.stderr)
                ops.append((unit, name, time.perf_counter() - t0, ok))
            return time.perf_counter() - t_unit
        unit = len(self.ingest_units)  # each ingest unit has its own sink
        ing = wl.IngestUnit(self.spark, self.run_dir, unit, tracer, listener)
        self.ingest_units.append(ing)
        t_unit = time.perf_counter()
        for day, n in enumerate(self.day_counts):
            self.op_id += 1
            path = os.path.join(self.raw_dir, f"day-{day:03d}.json")
            t0 = time.perf_counter()
            ok = True
            with tracer.span("op", self.op_id):
                try:
                    run_id = ing.run_day(path, self.op_id)
                except Exception as e:  # a failed op is a result, not a crash
                    ok = False
                    print(f"op day {day} failed: {type(e).__name__}: {str(e)[:300]}",
                          file=sys.stderr)
            ops.append((unit, f"day-{day:03d}", time.perf_counter() - t0, ok))
            if tracer.enabled and ok:
                ing.account(n, run_id)
        return time.perf_counter() - t_unit

    def check_queries(self) -> dict[str, str]:
        """The untimed correctness pass of a query workload. Returns the
        reasons by query name."""
        from pipeline_dataengineer_spark.contract import ORACLES

        frames = dict(self.frames)
        name = self.args.inject_wrong
        if name in frames:
            frames[name] = frames[name].limit(0)
        return wl.check_queries(frames, ORACLES, self.data_dir)

    def check_ingest(self) -> dict:
        """The untimed correctness pass of ``recall_ingest``: every
        unit's sink against DuckDB's reading of the raw JSON. Returns
        the reasons by ``(unit, day)``."""
        expected = wl.expected_sink(self.raw_dir)
        bad: dict = {}
        for unit, ing in enumerate(self.ingest_units):
            rows = [r.asDict() for r in ing.read_sink().collect()]
            if self.args.inject_wrong == "day" and rows:
                rows[0]["motif_du_rappel"] = "wrong"
            days, reason = wl.check_sink(rows, expected)
            for d in days:
                bad[(unit, f"day-{d:03d}")] = reason
        return bad

    # ---- the run -------------------------------------------------------

    def prepare_inputs(self) -> float:
        t0 = time.perf_counter()
        self.data_dir = ensure_tables(os.path.join(self.work, "data"), self.sf)
        if self.kind == "ingest":
            self.raw_dir = os.path.join(self.run_dir, "raw")
            self.day_counts = wl.write_ingest_inputs(self.raw_dir, self.args.seed,
                                                     self.days, self.per_day)
        return time.perf_counter() - t0

    def measure(self) -> dict:
        args = self.args
        inputs_s = self.prepare_inputs()
        import_s = self.import_engine()
        calib_s = host_calibration()
        log_dir = os.path.join(self.run_dir, "eventlog") if args.trace else None
        t0 = time.perf_counter()
        self.start(log_dir)  # the process's first session: a cold JVM launch
        setup_s = time.perf_counter() - t0
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        ops: list = []
        units: list[float] = []
        off = tr.Tracer(False)
        layers, extra = {}, {}
        with tr.RssSampler(jvm_pid) as rss:
            if args.trace:
                layers, extra, ops, units = self.traced(log_dir)
            else:
                for unit in range(max(1, math.ceil(args.seconds / self.spec["unit_s"]))):
                    units.append(self.run_unit(unit, off, ops))
        t_check = time.perf_counter()
        if self.kind == "query":
            bad = self.check_queries()
            failed = [(not ok) or name in bad for _, name, _, ok in ops]
        else:
            bad = self.check_ingest()
            failed = [(not ok) or (unit, name) in bad for unit, name, _, ok in ops]
            bad = {name: reason for (_, name), reason in bad.items()}
        check_s = time.perf_counter() - t_check
        lat = [o[2] for o in ops]
        tail_s, tail_pct, beyond = tail(lat)
        n_failed = sum(failed)
        metrics = {
            "setup_s": setup_s,
            "wall_s": statistics.median(units),
            "op_p50_s": statistics.median(lat),
            "op_tail_s": tail_s,
            "peak_rss_mb": rss.peak / 2**20,
            "failed_ratio": n_failed / len(ops),
        }
        return {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "units_s": [round(u, 4) for u in units], "ops": [[o[1], round(o[2], 4)] for o in ops],
            "metrics": metrics, "attempted": len(ops), "failed": n_failed, "failures": bad,
            "op_tail": {"percentile": round(tail_pct, 1), "samples": len(lat),
                        "samples_beyond": beyond, "max_s": max(lat)},
            "setup": {"inputs_s": round(inputs_s, 4), "import_s": round(import_s, 4)},
            "host_calib_s": round(calib_s, 4),
            "host_calib_after_s": round(host_calibration(), 4),
            "check_s": round(check_s, 4),
            "layers": layers, **extra,
        }

    def traced(self, log_dir: str):
        """The traced run: unit 0 untraced (it takes the cold-start
        costs), traced, and untraced again, in one session. The overhead
        ratio compares the two warm passes; the last one also gives the
        noop side of the count-vs-noop comparison. Returns the per-layer
        metrics, extras, the traced op list and the traced unit's wall
        time."""
        off = tr.Tracer(False)
        before = self.run_unit(0, off, [])
        tracer = tr.Tracer(True)
        listener = None
        ops: list = []
        if self.kind == "query":
            # catalog.table is reached directly from contract.queries and
            # through catalog.register_views (the SQL-string queries)
            import pipeline_dataengineer_spark.catalog as catalog
            import pipeline_dataengineer_spark.contract.queries as qmod

            table = catalog.table

            def traced_table(spark, sf_dir, name):
                with tracer.span("catalog", None):
                    return table(spark, sf_dir, name)

            catalog.table = qmod.table = traced_table
            try:
                wall = self.run_unit(0, tracer, ops)
            finally:
                catalog.table = qmod.table = table
        else:
            listener = tr.ProgressListener()
            handle = listener.make()
            self.spark.streams.addListener(handle)
            wall = self.run_unit(0, tracer, ops, listener)
            self.spark.streams.removeListener(handle)
        plain: list = []
        after = self.run_unit(0, off, plain)
        extra = {"trace_overhead": {"cold_untraced_s": before, "traced_s": wall,
                                    "untraced_s": after}}
        layers = dict.fromkeys(LAYER_UNITS, 0.0)
        layers["trace.overhead_ratio"] = wall / after
        if self.kind == "query":
            from pipeline_dataengineer_spark.contract import QUERIES

            attr = tr.attribute_jobs(tr.read_event_log(log_dir), tracer.spans)
            noop_s = {name: t for _, name, t, _ in plain}
            plan_s, extra["count_vs_noop_over_20pct"] = wl.probe_queries(
                self.spark, QUERIES, noop_s, self.data_dir)
            layers.update(self.query_layers(tracer, tr.by_phase(attr), plan_s))
            extra["per_query"] = self.per_query(tracer, attr, ops, plan_s)
            covered = ("build", "exec")
        else:
            layers.update(self.ingest_layers(tracer, listener, self.ingest_units[1]))
            covered = ("produce", "drain")
        cover = {}
        for s in tracer.spans:
            if s["name"] == "op":
                inside = sum(c["end"] - c["start"] for c in tracer.spans
                             if c["parent"] == s["id"] and c["name"] in covered)
                cover[s["op"]] = inside / (s["end"] - s["start"])
        layers["layers.coverage_gap"] = 1.0 - min(cover.values())
        extra["coverage"] = {"min": min(cover.values()), "ops_below_95pct": sum(
            1 for v in cover.values() if v < 0.95)}
        span_file = os.path.join(self.work, "traces",
                                 f"{self.args.workload}-seed{self.args.seed}-{os.getpid()}.json")
        tracer.write(span_file)
        extra["span_file"] = os.path.relpath(span_file, self.root)
        return layers, extra, ops, [wall]

    @staticmethod
    def per_query(tracer, attr: dict, ops: list, plan_s: dict) -> dict[str, dict]:
        """The traced pass's layer breakdown of each query."""
        names = {}
        op_ids = [s["op"] for s in tracer.spans if s["name"] == "op"]
        for op_id, (_, name, _, _) in zip(op_ids, ops):
            names[op_id] = name
        out: dict[str, dict] = {}
        for s in tracer.spans:
            if s["name"] in tr.QUERY_PHASES and s["op"] in names:
                row = out.setdefault(names[s["op"]], {})
                row[f"{s['name']}_s"] = row.get(f"{s['name']}_s", 0.0) + s["end"] - s["start"]
        for (op_id, phase), m in attr.items():
            if op_id in names:
                row = out.setdefault(names[op_id], {})
                row[f"{phase}_jobs"] = m.get("jobs", 0.0)
                if m.get("udf.python_s"):
                    row["udf_python_s"] = row.get("udf_python_s", 0.0) + m["udf.python_s"]
        for name, row in out.items():  # build time excludes its nested catalog calls
            row["build_s"] = row.get("build_s", 0.0) - row.get("catalog_s", 0.0)
            row["plan_probe_s"] = plan_s.get(name, 0.0)
        return {k: {m: round(v, 4) for m, v in row.items()} for k, row in out.items()}

    def query_layers(self, tracer, attr: dict, plan_s: dict) -> dict:
        ex = attr.get("exec", {})
        cpus = self.spark.sparkContext.defaultParallelism
        out = {
            "catalog.calls": float(tracer.count("catalog")),
            "catalog.s": tracer.total("catalog"),
            "catalog.jobs": attr.get("catalog", {}).get("jobs", 0.0),
            "build.s": tracer.total("build") - tracer.total("catalog"),
            "build.jobs": attr.get("build", {}).get("jobs", 0.0),
            "plan.s": sum(plan_s.values()),
            "exec.s": tracer.total("exec"),
        }
        for k in ("jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s", "shuffle_read_bytes",
                  "shuffle_write_bytes", "spill_bytes"):
            out[f"exec.{k}"] = ex.get(k, 0.0)
        out["exec.busy_ratio"] = out["exec.run_s"] / (out["exec.s"] * cpus)
        for k in ("udf.python_s", "udf.boot_s", "udf.bytes_sent"):
            out[k] = sum(attr.get(phase, {}).get(k, 0.0) for phase in tr.QUERY_PHASES)
        return out

    def ingest_layers(self, tracer, listener, ing) -> dict:
        out = {k: sum(p["durationMs"].get(v, 0) for p in listener.progress) / 1e3
               for k, v in _STREAM_DURATIONS.items()}
        read = float(sum(p["rows"] for p in listener.progress))
        written = float(ing.layer["sink.rows_written"])
        out.update({
            "produce.s": tracer.total("produce"),
            "produce.records": float(ing.layer["produce.records"]),
            "source.records_read": read,
            "ingest.append_s": tracer.total("ingest_batch"),
            "sink.rows_written": written,
            "sink.rows_total": float(ing.rows_total),
            "ingest.kept_ratio": written / read if read else 0.0,
        })
        return out


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    sys.path.insert(0, root)
    try:
        import pipeline_dataengineer_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from {root}: {e}",
              file=sys.stderr)
        return 2
    bench = Bench(args, root)
    # Python workers import the engine too; keep every scratch file in
    # the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(bench.run_dir, "spark-local")
    os.environ["TMPDIR"] = bench.tmp
    tempfile.tempdir = None
    try:
        res = bench.measure()
    finally:
        bench.shutdown()
        shutil.rmtree(bench.run_dir, ignore_errors=True)
    facts = host_facts(root)
    facts.update({"workload": args.workload, "seed": args.seed,
                  "data": f"generated sf{bench.sf}",
                  "spark_master": f"local[{os.environ['SPARK_GRAFT_CPUS']}]"})
    res["stamp"] = facts
    values = res["metrics"]
    res["metrics"] = {k: {"value": values[k], "unit": u} for k, u in DETAIL_UNITS.items()}
    summary = {k: res["metrics"][k] for k in E2E_UNITS}
    if args.trace:
        summary = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in res["layers"].items()}
    print(json.dumps(res))
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": summary}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
