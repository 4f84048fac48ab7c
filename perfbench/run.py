"""Closed-loop benchmark of the flights-lakehouse engine.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One client, one driver process, Spark
``local[<cores>]``. Each run makes its inputs from ``--seed`` inside a
fresh state directory under ``.perfbench/`` (its own TMPDIR, Spark local
dirs, warehouse and lakehouse root) and removes it at the end. The last
stdout line is ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``; with ``--trace 1`` the per-layer
metrics, from a Spark event log and spans around each layer call. The line
before it holds run diagnostics. Traced runs also leave their spans and
per-op layer table in ``.perfbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "us_dot_flights_lakehouse_spark"
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import procmon  # noqa: E402
import stats  # noqa: E402
import workloads as W  # noqa: E402
from spans import UNATTRIBUTED, Tracer, attribute, read_event_log  # noqa: E402

#: exec-layer counters taken from the event log, per op
EXEC_COUNTERS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "jvm_gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "result_bytes",
)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=W.WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = p.parse_args(argv)
    if a.seconds < 1:
        p.error("--seconds must be >= 1")
    return a


def cores() -> int:
    return len(os.sched_getaffinity(0))


def layer_row(span, per_group: dict, medallion: bool) -> dict[str, float]:
    """Per-layer numbers of one traced op from its span and the event-log
    totals of its job groups. Catalog ops have build/plan/exec children;
    a medallion refresh has the five stage children, all of them exec."""
    kids = {c.name: c for c in span.children}

    def total(groups, key):
        return sum(per_group.get(g, {}).get(key, 0.0) for g in groups)

    all_groups = [c.group for c in span.children]
    exec_groups = all_groups if medallion else [kids["exec"].group]
    row = {
        "queries.build_s": 0.0 if medallion else kids["build"].duration,
        "queries.build_jobs": 0.0 if medallion else total([kids["build"].group], "jobs"),
        "plan.plan_s": 0.0 if medallion else kids["plan"].duration,
        "exec.exec_s": sum(kids[s].duration for s, _ in W.MEDALLION_STAGES)
        if medallion
        else kids["exec"].duration,
        **{f"exec.{k}": total(exec_groups, k) for k in EXEC_COUNTERS},
        "sources.input_bytes": total(all_groups, "input_bytes"),
        "sources.output_bytes": total(all_groups, "output_bytes"),
        **span.counts,
    }
    for stage, _fn in W.MEDALLION_STAGES:
        row[f"flights.{stage}_s"] = kids[stage].duration if medallion else 0.0
    row["trace.layer_coverage"] = (span.duration - span.self_time) / span.duration
    return row


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "B"
    return "count"


class Run:
    def __init__(self, args, state: str):
        self.args = args
        self.medallion = args.workload == "medallion"
        self.dirs = {
            k: os.path.join(state, k)
            for k in ("tmp", "local", "warehouse", "data", "lake", "eventlog")
        }
        for d in self.dirs.values():
            os.makedirs(d)
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.latencies: list[float] = []
        self.op_times: dict[str, list[float]] = {}
        self.timings: dict[str, float] = {}
        self.stored_ratio: list[float] = []
        self.tracer = Tracer()
        self.ops = []  # traced runs: the span of each completed timed op
        self.workers_known: set[int] = set()

    # ---------------------------------------------------------------- setup
    def isolate(self) -> None:
        """Point every on-disk side effect at this run's state dir; must
        run before pyspark or the package is imported (the catalog binds
        tempfile.gettempdir() paths at import time)."""
        import tempfile

        os.environ["TMPDIR"] = self.dirs["tmp"]
        os.environ["SPARK_LOCAL_DIRS"] = self.dirs["local"]
        os.environ["SPARK_GRAFT_CPUS"] = str(cores())
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
        os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
        os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = os.path.join(self.dirs["data"], "sf")
        tempfile.tempdir = None

    def start(self) -> None:
        t0 = time.perf_counter()
        sys.path.insert(0, ROOT)
        import pyspark  # noqa: F401

        from us_dot_flights_lakehouse_spark import queries  # noqa: F401
        from us_dot_flights_lakehouse_spark.flights import pipeline  # noqa: F401
        from us_dot_flights_lakehouse_spark.session import get_spark

        t1 = time.perf_counter()
        confs = {
            "spark.sql.warehouse.dir": self.dirs["warehouse"],
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.dirs['tmp']}",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.args.trace:
            confs.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": f"file://{self.dirs['eventlog']}",
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        self.spark = get_spark(f"perfbench-{self.args.workload}", extra_confs=confs)
        self.timings["import_s"] = t1 - t0
        self.timings["start_s"] = time.perf_counter() - t1
        if self.args.trace:
            self.tracer.sc = self.spark.sparkContext

    def stop(self) -> None:
        """Stop Spark and wait until the JVM and its Python workers exit."""
        from pyspark import SparkContext

        try:
            if getattr(self, "spark", None) is not None:
                self.spark.stop()
        finally:
            gw = SparkContext._gateway
            if gw is not None:
                gw.shutdown()
                proc = getattr(gw, "proc", None)
                if proc is not None:
                    proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
                    proc.wait(timeout=60)
                SparkContext._gateway = None
                SparkContext._jvm = None
            deadline = time.monotonic() + 30
            while procmon.children(os.getpid()) and time.monotonic() < deadline:
                time.sleep(0.1)

    # ------------------------------------------------------------ accounting
    def fail(self, what: str, exc: BaseException | str) -> None:
        self.failed += 1
        msg = exc if isinstance(exc, str) else f"{type(exc).__name__}: {exc}"
        self.failures.append(f"{what}: {msg}"[:500])
        if not isinstance(exc, str):
            traceback.print_exception(exc, file=sys.stderr)

    def checked_pass(self, names, execute, check) -> float:
        """Run each op once through ``execute`` (returns columns and rows),
        compare the result with ``check`` and count an exception or a
        mismatch as a failed op. Returns the seconds spent executing."""
        spent = 0.0
        for name in names:
            self.attempted += 1
            t = time.perf_counter()
            try:
                cols, rows = execute(name)
            except Exception as exc:  # noqa: BLE001 - counted, the pass goes on
                self.fail(f"warmup:{name}", exc)
                continue
            finally:
                spent += time.perf_counter() - t
            try:
                problem = check(name, cols, rows)
            except Exception as exc:  # noqa: BLE001
                problem = f"oracle error: {type(exc).__name__}: {exc}"
            if problem:
                self.fail(f"check:{name}", problem)
        return spent

    def py_cpu(self) -> tuple[float, set[int]]:
        roles = procmon.classify(os.getpid())
        return procmon.python_worker_cpu(roles), set(roles["worker"])

    def files(self) -> set[str]:
        out = set()
        for key in ("tmp", "warehouse", "lake"):
            for root, _d, fs in os.walk(self.dirs[key]):
                out.update(os.path.join(root, f) for f in fs if not f.startswith(("_", ".")))
        return out

    def timed_op(self, i: int, name: str, body) -> bool:
        """Run one op; traced runs wrap it in an op span and record the
        process-level counters around it. Returns False on failure."""
        self.attempted += 1
        trace = self.args.trace
        if trace:
            cpu0, w0 = self.py_cpu()
            self.workers_known |= w0
            f0 = self.files()
        t0 = time.perf_counter()
        try:
            if trace:
                with self.tracer.span(f"op{i}:{name}") as span:
                    body(i, span)
            else:
                body(i, None)
        except Exception as exc:  # noqa: BLE001 - an op failure is counted, the loop goes on
            self.fail(f"op{i}:{name}", exc)
            return False
        dt = time.perf_counter() - t0
        self.latencies.append(dt)
        self.op_times.setdefault(name, []).append(dt)
        if trace:
            cpu1, w1 = self.py_cpu()
            born = (w1 | self.mon.workers_seen) - self.workers_known
            self.workers_known |= born
            span.counts.update(
                {
                    "python.worker_cpu_s": cpu1 - cpu0,
                    "python.workers_started": len(born),
                    "sources.files_written": len(self.files() - f0),
                }
            )
            self.ops.append(span)
        return True

    # ------------------------------------------------------------- catalog
    def catalog_setup(self) -> None:
        from checks import CatalogOracle
        from us_dot_flights_lakehouse_spark.queries import oracle_sql, queries

        self.sf_dir = os.environ["SPARK_GRAFT_ORACLE_SF_DIR"]
        t0 = time.perf_counter()
        self.input_bytes = datagen.write_catalog(self.sf_dir, self.args.seed, W.CATALOG_SF)
        self.timings["generate_s"] = time.perf_counter() - t0
        self.names = W.CURATION
        self.builders = queries()

        def execute(name):
            df = self.builders[name](self.spark, self.sf_dir)
            return df.columns, [tuple(r) for r in df.collect()]

        # warm-up: every listed op once, its result collected and checked
        oracle = CatalogOracle(ROOT, self.sf_dir, oracle_sql())
        t0 = time.perf_counter()
        try:
            with self.tracer.span("setup", group="setup"):
                self.timings["warmup_s"] = self.checked_pass(self.names, execute, oracle.check)
        finally:
            oracle.close()
        self.timings["check_s"] = time.perf_counter() - t0 - self.timings["warmup_s"]

    def catalog_op(self, name: str):
        fn = self.builders[name]

        def body(i: int, span) -> None:
            if span is None:
                fn(self.spark, self.sf_dir).write.format("noop").mode("overwrite").save()
                return
            with self.tracer.span("build", group=f"op{i}.build"):
                df = fn(self.spark, self.sf_dir)
            with self.tracer.span("plan", group=f"op{i}.plan"):
                df._jdf.queryExecution().executedPlan()
            # the noop write re-optimises the built plan; exec includes that
            with self.tracer.span("exec", group=f"op{i}.exec"):
                df.write.format("noop").mode("overwrite").save()

        return body

    def catalog_loop(self) -> None:
        rng = random.Random(self.args.seed)
        i = passes = 0
        t0 = time.perf_counter()
        while passes < W.CATALOG_MIN_PASSES or time.perf_counter() - t0 < self.args.seconds:
            order = list(self.names)
            rng.shuffle(order)
            for name in order:
                self.timed_op(i, name, self.catalog_op(name))
                i += 1
            passes += 1
        self.timings["loop_s"] = time.perf_counter() - t0
        self.timings["passes"] = passes
        stored = datagen.tree_bytes(self.dirs["tmp"]) + datagen.tree_bytes(self.dirs["warehouse"])
        self.stored_ratio.append(stored / self.input_bytes)

    # ------------------------------------------------------------ medallion
    def medallion_setup(self) -> None:
        from checks import load_check_oracle

        self.feed = os.path.join(self.dirs["data"], "feed")
        self.norm = load_check_oracle(ROOT)
        with self.tracer.span("setup", group="setup"):
            t0 = time.perf_counter()
            self.input_bytes = datagen.write_flight_feed(
                self.spark, self.feed, W.FEED_ROWS, self.args.seed
            )
            self.timings["generate_s"] = time.perf_counter() - t0
            t0 = time.perf_counter()
            for k in range(W.MEDALLION_WARMUPS):
                self.refresh(f"warmup{k}", None)
                shutil.rmtree(os.path.join(self.dirs["lake"], f"warmup{k}"))
            self.timings["warmup_s"] = time.perf_counter() - t0

    def refresh(self, tag: str, span) -> None:
        """One full refresh into a fresh lakehouse root: the five stage calls."""
        from us_dot_flights_lakehouse_spark.flights import pipeline

        paths = pipeline.LakehousePaths(os.path.join(self.dirs["lake"], tag))
        calls = {
            "run_bronze": lambda: pipeline.run_bronze(
                self.spark, self.spark.read.parquet(self.feed), paths
            ),
            "run_silver": lambda: pipeline.run_silver(self.spark, paths),
            "run_dimensions": lambda: pipeline.run_dimensions(self.spark, paths),
            "run_fact": lambda: pipeline.run_fact(self.spark, paths),
            "run_marts": lambda: pipeline.run_marts(self.spark, paths),
        }
        for stage, fn in W.MEDALLION_STAGES:
            if span is None:
                calls[fn]()
            else:
                with self.tracer.span(stage, group=f"{tag}.{stage}"):
                    calls[fn]()

    def medallion_loop(self) -> None:
        from checks import check_medallion
        from us_dot_flights_lakehouse_spark.flights import pipeline

        i, t0, check = 0, time.perf_counter(), 0.0
        while i < W.MEDALLION_MIN_OPS or time.perf_counter() - t0 - check < self.args.seconds:
            tag = f"op{i}"
            ok = self.timed_op(i, "refresh", lambda i, span, tag=tag: self.refresh(tag, span))
            # outside the timed op: storage amplification and the output check
            tc = time.perf_counter()
            root = os.path.join(self.dirs["lake"], tag)
            if ok:
                self.stored_ratio.append(datagen.tree_bytes(root) / self.input_bytes)
                self.attempted += 1
                try:
                    with self.tracer.span(f"check{i}", group="check"):
                        problem = check_medallion(
                            self.spark, self.norm, pipeline.LakehousePaths(root), self.feed
                        )
                except Exception as exc:  # noqa: BLE001
                    problem = f"check error: {type(exc).__name__}: {exc}"
                if problem:
                    self.fail(f"check:{tag}", problem)
            shutil.rmtree(root, ignore_errors=True)
            check += time.perf_counter() - tc
            i += 1
        self.timings["loop_s"] = time.perf_counter() - t0 - check
        self.timings["check_s"] = check

    # ---------------------------------------------------------------- run
    def run(self) -> dict:
        self.isolate()
        try:
            self.start()
            (self.medallion_setup if self.medallion else self.catalog_setup)()
            t = self.timings
            t["setup_s"] = t["import_s"] + t["start_s"] + t["generate_s"] + t["warmup_s"]
            self.mon = procmon.Sampler(os.getpid())
            with self.mon:
                self.workers_known = set(self.mon.workers_seen)
                (self.medallion_loop if self.medallion else self.catalog_loop)()
        finally:
            self.stop()
        return self.report()

    def report(self) -> dict:
        t = self.timings
        n = len(self.latencies)
        tail = stats.tail(self.latencies)
        diag = {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "cores": cores(),
            "timings": t,
            "ops_completed": n,
            # below TAIL_MIN_OPS there is no percentile tail: the slowest op
            "op_tail": (
                {"value": tail[0], "percentile": tail[1], "n": n}
                if tail
                else {"value": max(self.latencies, default=0.0), "percentile": 100.0, "n": n}
            ),
            "input_bytes": self.input_bytes,
            "op_median_by_op": {k: statistics.median(v) for k, v in self.op_times.items()},
            "failures": self.failures[:20],
            "loop_cpu_s": self.mon.cpu_s,
            "steal_s": self.mon.steal_s,
            "cpu_pressure": self.mon.psi,
            "procmon_samples": self.mon.samples,
        }
        if self.args.trace:
            metrics = self.layer_metrics(diag)
        else:
            metrics = {
                "ops_per_s": (n / t["loop_s"], "1/s"),
                "op_p50_s": (statistics.median(self.latencies) if n else 0.0, "s"),
                "op_tail_s": (diag["op_tail"]["value"], "s"),
                "peak_pss_mb": (self.mon.peak_pss_mb, "MB"),
                "setup_s": (t["setup_s"], "s"),
                "stored_bytes_per_input_byte": (
                    statistics.median(self.stored_ratio) if self.stored_ratio else 0.0,
                    "B/B",
                ),
            }
        print(json.dumps(diag, default=str))
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def layer_metrics(self, diag: dict) -> dict:
        groups = set()
        todo = list(self.tracer.roots)
        while todo:
            s = todo.pop()
            todo.extend(s.children)
            if s.group is not None:
                groups.add(s.group)
        per_group = attribute(read_event_log(self.dirs["eventlog"]), groups)
        rows = [layer_row(span, per_group, self.medallion) for span in self.ops]
        out_dir = os.path.join(ROOT, ".perfbench", "out")
        os.makedirs(out_dir, exist_ok=True)
        base = os.path.join(out_dir, f"{self.args.workload}-seed{self.args.seed}")
        self.tracer.dump(base + "-spans.json")
        with open(base + "-ops.json", "w") as f:
            ops = [dict(op=s.name, **r) for s, r in zip(self.ops, rows)]
            json.dump({"ops": ops, "groups": per_group}, f)
        unattributed = per_group.get(UNATTRIBUTED, {})
        diag["unattributed"] = unattributed
        metrics = {
            "session.import_s": (self.timings["import_s"], "s"),
            "session.start_s": (self.timings["start_s"], "s"),
        }
        coverage = [r.pop("trace.layer_coverage") for r in rows]
        for k in rows[0] if rows else ():
            metrics[k] = (sum(r[k] for r in rows) / len(rows), unit_of(k))
        metrics["trace.ops_per_s"] = (len(self.latencies) / self.timings["loop_s"], "1/s")
        metrics["trace.unattributed_jobs"] = (unattributed.get("jobs", 0.0), "count")
        metrics["trace.layer_coverage_min"] = (min(coverage, default=0.0), "ratio")
        return metrics


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its state directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    state = os.path.join(ROOT, ".perfbench", f"run-{args.workload}-{args.seed}-{os.getpid()}")
    try:
        result = Run(args, state).run()
    finally:
        shutil.rmtree(state, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
