"""One benchmark run, in a fresh process started by `run.py`.

Usage (normally through run.py):
    python3 perfbench/worker.py --workload NAME --seed N --seconds S
        --trace 0|1 --sf-dir DIR --work-dir DIR --result FILE
        [--trace-file FILE] [--max-ops N]

Timed regions hold only calls into the program: the builder and sink
call (or `run_pipeline`) of each op and `caches.release_all` between
ops. Output checks, counter reads and span bookkeeping happen between
timed regions. The run's report is written to `--result` as JSON.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import re
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import check  # noqa: E402
import probes  # noqa: E402
import workloads  # noqa: E402
from tracing import SparkCounters, StreamListener, Tracer  # noqa: E402

#: Module groups reported as operators.<module>.{build_s,exec_s}: the
#: modules of the analytic_mix and stream_ingest samples.
MODULES = ("relational", "tpch", "analytics", "events")

#: Table read for the set-up scan: the smallest, so set-up time is the
#: engine's fixed cost (JVM, session, first-scan code paths), not I/O.
SETUP_TABLE = "nation"


def tail(values: list[float]) -> float:
    """p90 by nearest rank (the largest value when there are < 10)."""
    s = sorted(values)
    return s[max(0, -(-9 * len(s) // 10) - 1)]


def oracle_for(api, op: workloads.Op) -> dict[str, str]:
    """Oracle SQL per output of an op, keyed by its expectation name."""
    if op.kind == "query":
        return {op.name: api.REGISTRY[op.name].oracle}
    date_sql = f"DATE '{op.as_of.isoformat()}'"
    return {
        f"{sink}@{op.as_of.isoformat()}":
            api.REGISTRY[sink].oracle.replace(api.views.AS_OF_SQL, date_sql)
        for sink in ("loan_final", "loan_monthly_schedule")
    }


class Run:
    """Session, op execution and output checks for one run."""

    def __init__(self, sf_dir: str, work_dir: str,
                 tracer: Tracer | None = None) -> None:
        self.sf_dir = sf_dir
        self.work_dir = work_dir
        self.tracer = tracer
        self._expected: dict[str, dict] = {}

    def span(self, name: str, op: int | None = None, **attrs):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, op, **attrs)

    def setup(self, cpus: int) -> dict:
        """Start the session and finish its first parquet scan."""
        t0 = time.perf_counter()
        with self.span("session.start"):
            from etl_portfolio_project_spark import api, caches, tmpdirs
            from etl_portfolio_project_spark.pipelines import loan_pipeline
            from etl_portfolio_project_spark.session import get_spark
            from etl_portfolio_project_spark.sources import registry

            self.spark = get_spark(
                app_name="perfbench",
                cpus=cpus,
                extra_conf={
                    "spark.sql.warehouse.dir":
                        os.path.join(self.work_dir, "warehouse"),
                    "spark.ui.showConsoleProgress": "false",
                },
            )
        t1 = time.perf_counter()
        with self.span("session.warm"):
            registry.load_table(self.spark, self.sf_dir, SETUP_TABLE).write.format(
                "noop"
            ).mode("overwrite").save()
        t2 = time.perf_counter()
        self.api, self.caches, self.tmpdirs = api, caches, tmpdirs
        self.loan_pipeline, self.registry = loan_pipeline, registry
        return {"start_s": t1 - t0, "warm_s": t2 - t1}

    def execute(self, i: int, op: workloads.Op, marks: dict):
        """Run one op; returns what `check` needs. `marks` receives the
        wall-clock time from which the op's jobs count as execution."""
        if op.kind == "query":
            spec = self.api.REGISTRY[op.name]
            with self.span("api.build", i, query=op.name):
                df = spec.builder(self.spark, self.sf_dir)
            marks["built_unix"] = time.time()
            with self.span("spark.sink", i, query=op.name):
                return df.toArrow()
        out = os.path.join(self.work_dir, "sinks", f"op{i}")
        marks["built_unix"] = time.time()  # no builder: every job executes
        with self.span("pipelines.run_pipeline", i, as_of=op.as_of.isoformat()):
            return self.loan_pipeline.run_pipeline(
                self.spark, self.sf_dir, out, op.as_of
            )

    def open_oracle(self, cpus: int) -> None:
        """DuckDB connection for output checks. Checks run between timed
        regions, so it may use every core."""
        self.duck = check.connect(self.sf_dir, cpus)

    def expected_fp(self, key: str, sql: str) -> dict:
        """The oracle's fingerprint of one output, computed once per run:
        the timed passes repeat each query."""
        if key not in self._expected:
            self._expected[key] = check.oracle_fingerprint(self.duck, sql)
        return self._expected[key]

    def check(self, op: workloads.Op, result) -> tuple[list[str], dict]:
        """Compare an op's output with its oracle. Returns (problems,
        per-output fingerprints)."""
        problems, got = [], {}
        oracles = oracle_for(self.api, op)
        if op.kind == "query":
            got[op.name] = check.arrow_fingerprint(self.duck, result)
        else:
            for key in oracles:
                sink = key.split("@", 1)[0]
                got[key] = check.parquet_fingerprint(self.duck, result[sink])
        for key, sql in oracles.items():
            want = self.expected_fp(key, sql)
            if got[key] != want:
                problems.append(f"{key}: got {got[key]} want {want}")
        return problems, got

    def release(self, i: int) -> None:
        with self.span("caches.release_all", i):
            self.caches.release_all()

def tables_read(sqls: list[str], tables: list[str]) -> list[str]:
    found = set()
    for sql in sqls:
        for t in tables:
            if re.search(rf"\b{t}\b", sql or ""):
                found.add(t)
    return sorted(found)


def warm_up(run: Run, ops: list[workloads.Op], passes: int,
            failures: list[dict]) -> float:
    """`passes` untimed executions of each distinct op, so timed ops see
    a warm engine (JIT-compiled JVM, generated-code cache) as a
    long-running service does. Each goes through the same cycle as a
    timed op: execute, check the output, release caches. Returns the
    warm-up's duration."""
    t0 = time.perf_counter()
    tracer, run.tracer = run.tracer, None
    try:
        for op in list(dict.fromkeys(ops)) * passes:
            i = ops.index(op)
            try:
                problems, _ = run.check(op, run.execute(i, op, {}))
            except Exception:
                problems = [traceback.format_exc(limit=3)]
            if problems:
                failures.append({"op": i, "name": op.name, "error": problems})
            shutil.rmtree(os.path.join(run.work_dir, "sinks"), ignore_errors=True)
            run.caches.release_all()
    finally:
        run.tracer = tracer
    return time.perf_counter() - t0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--work-dir", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--trace-file")
    ap.add_argument("--max-ops", type=int)
    args = ap.parse_args()

    t_process = float(os.environ["PERFBENCH_T0"])
    cpus = len(os.sched_getaffinity(0))
    pid = os.getpid()
    traced = bool(args.trace)
    tracer = Tracer() if traced else None
    run = Run(args.sf_dir, args.work_dir, tracer)

    session = run.setup(cpus)
    setup_s = time.time() - t_process
    run.open_oracle(cpus)
    ops = workloads.plan(args.workload, args.seed, args.seconds, args.max_ops)
    failures: list[dict] = []
    warmup_s = warm_up(run, ops, workloads.WARM_UP[args.workload], failures)

    counters = listener = None
    if traced:
        t = time.perf_counter()
        counters = SparkCounters(run.spark)
        counters.take_split(None)  # set-up jobs are not an op's
        listener = StreamListener()
        run.spark.streams.addListener(listener.listener())
        tracer.overhead_s += time.perf_counter() - t
    clock_offset = time.time() - time.perf_counter()

    lat, cpu, release_s, check_s = [], 0.0, 0.0, 0.0
    layer = _LayerTotals()
    shared_before = run.caches.shared_live_count()
    for i, op in enumerate(ops):
        marks: dict = {}
        c0 = probes.tree_cpu_s(pid)
        t0 = time.perf_counter()
        try:
            with run.span("op", i, query=op.name):
                result = run.execute(i, op, marks)
        except Exception:
            result = None
            failures.append({"op": i, "name": op.name,
                             "error": traceback.format_exc(limit=3)})
        t1 = time.perf_counter()
        c1 = probes.tree_cpu_s(pid)
        lat.append(t1 - t0)
        cpu += c1 - c0

        if traced:
            tt = time.perf_counter()
            layer.record_op(run, counters, listener, op, i, marks,
                            shared_before, clock_offset)
            shared_before = run.caches.shared_live_count()
            tracer.overhead_s += time.perf_counter() - tt
        tc = time.perf_counter()
        if result is not None:
            try:
                problems, fps = run.check(op, result)
            except Exception:
                problems, fps = [traceback.format_exc(limit=3)], {}
            if problems:
                failures.append({"op": i, "name": op.name, "error": problems})
            if traced:
                tt = time.perf_counter()
                counters.take_split(None)  # the check's jobs are not an op's
                tracer.overhead_s += time.perf_counter() - tt
            if op.kind == "pipeline":
                layer.sink_mb += probes.du_mb(os.path.join(run.work_dir, "sinks"))
                layer.rows_out += sum(fp["rows"] for fp in fps.values())
        shutil.rmtree(os.path.join(run.work_dir, "sinks"), ignore_errors=True)
        check_s += time.perf_counter() - tc

        c2 = probes.tree_cpu_s(pid)
        t2 = time.perf_counter()
        run.release(i)
        t3 = time.perf_counter()
        cpu += probes.tree_cpu_s(pid) - c2
        release_s += t3 - t2

    wall_s = sum(lat) + release_s
    end_to_end = {
        "setup_s": (setup_s, "s"),
        "wall_s": (wall_s, "s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "op_tail_s": (tail(lat), "s"),
        "cpu_s": (cpu, "s"),
    }
    summary = {
        "sink_mb": (layer.sink_mb, "MB"),
        "failed_ratio": (len({f["op"] for f in failures}) / len(ops), "ratio"),
        "ops": (len(ops), "count"),
        "op_tail_percentile": (90, "pct"),
        "check_s": (check_s, "s"),
        "warmup_s": (warmup_s, "s"),
    }
    per_layer = None
    if traced:
        per_layer = layer.finish(
            run, counters, tracer, ops, session, wall_s, release_s, cpus, pid,
        )
        if args.trace_file:
            tracer.dump(args.trace_file)

    report = {
        "workload": args.workload,
        "seed": args.seed,
        "attempted": len(ops),
        "failed": len({f["op"] for f in failures}),
        "failures": failures,
        "ops": [op.name for op in ops],
        "op_latency_s": lat,
        "end_to_end": end_to_end,
        "summary": summary,
        "per_layer": per_layer,
    }
    with open(args.result, "w") as f:
        json.dump(report, f)
    # run.py stops this process group (JVM and Python workers included)
    # once the report exists; a graceful Spark shutdown would only add
    # seconds to every run.
    sys.stdout.flush()
    sys.stderr.flush()
    os._exit(0)


class _LayerTotals:
    """Per-layer totals of a traced run."""

    def __init__(self) -> None:
        self.spark = {}
        self.build_s = 0.0
        self.build_jobs = 0
        self.exec_s = 0.0
        self.module = {m: [0.0, 0.0] for m in MODULES}
        self.live_max = 0
        self.shared_builds = 0
        self.storage_mb = 0.0
        self.pipeline_s = 0.0
        self.write_s = 0.0
        self.rows_out = 0
        self.sink_mb = 0.0
        self.op_self_s = 0.0
        self.op_s = 0.0
        self.batches: list[dict] = []
        self._seen_batches = 0

    def record_op(self, run, counters, listener, op, i, marks,
                  shared_before, clock_offset) -> None:
        tracer = run.tracer
        stats = counters.take_split(marks.get("built_unix"))
        for phase in ("build", "exec"):
            for k, v in stats[phase].items():
                self.spark[k] = self.spark.get(k, 0.0) + v
        self.build_jobs += stats["build"]["jobs"]
        op_idx = next(
            j for j in range(len(tracer.spans) - 1, -1, -1)
            if tracer.spans[j].name == "op" and tracer.spans[j].op == i
        )
        op_span = tracer.spans[op_idx]
        self.op_s += op_span.end - op_span.start
        self.op_self_s += tracer.self_time(op_idx)
        kids = {tracer.spans[j].name: j for j in range(op_idx + 1, len(tracer.spans))
                if tracer.spans[j].parent == op_idx}
        if op.kind == "query":
            b = tracer.spans[kids["api.build"]] if "api.build" in kids else None
            s = tracer.spans[kids["spark.sink"]] if "spark.sink" in kids else None
            bs = (b.end - b.start) if b else 0.0
            es = (s.end - s.start) if s else 0.0
            self.build_s += bs
            self.exec_s += es
            mod = run.api.REGISTRY[op.name].module.rsplit(".", 1)[-1]
            if mod in self.module:
                self.module[mod][0] += bs
                self.module[mod][1] += es
            parent = kids.get("api.build", op_idx)
        else:
            p = tracer.spans[kids["pipelines.run_pipeline"]] \
                if "pipelines.run_pipeline" in kids else None
            self.pipeline_s += (p.end - p.start) if p else 0.0
            self.write_s += stats["exec"]["write_s"]
            self.exec_s += (p.end - p.start) if p else 0.0
            parent = kids.get("pipelines.run_pipeline", op_idx)
        for b in listener.batches[self._seen_batches:]:
            start = b["start_unix"] - clock_offset
            tracer.add("streaming.batch", start, start + b["trigger_ms"] / 1e3,
                       parent, i, add_batch_ms=b["add_batch_ms"])
            self.batches.append(b)
        self._seen_batches = len(listener.batches)
        self.live_max = max(self.live_max, run.caches.live_count())
        if run.caches.shared_live_count() > shared_before:
            self.shared_builds += 1
        self.storage_mb = max(self.storage_mb, counters.storage_mb(run.spark))

    def finish(self, run, counters, tracer, ops, session, wall_s,
               release_s, cpus, pid) -> dict:
        sp = self.spark
        m: dict[str, tuple[float, str]] = {
            "session.start_s": (session["start_s"], "s"),
            "session.warm_s": (session["warm_s"], "s"),
            "session.gc_s": (sp.get("gc_s", 0.0), "s"),
            "session.peak_rss_mb": (probes.tree_peak_rss_mb(pid), "MB"),
            "api.build_s": (self.build_s, "s"),
            "api.build_jobs": (self.build_jobs, "count"),
            "spark.exec_s": (self.exec_s, "s"),
            "spark.jobs": (sp.get("jobs", 0), "count"),
            "spark.stages": (sp.get("stages", 0), "count"),
            "spark.tasks": (sp.get("tasks", 0), "count"),
            "spark.failed_tasks": (sp.get("failed_tasks", 0), "count"),
            "spark.task_busy_s": (sp.get("task_busy_s", 0.0), "s"),
            "spark.task_cpu_s": (sp.get("task_cpu_s", 0.0), "s"),
            "spark.core_util": (
                sp.get("task_busy_s", 0.0) / (wall_s * cpus), "ratio"),
            "spark.input_mb": (sp.get("input_mb", 0.0), "MB"),
            "spark.shuffle_write_mb": (sp.get("shuffle_write_mb", 0.0), "MB"),
            "spark.shuffle_read_mb": (sp.get("shuffle_read_mb", 0.0), "MB"),
            "spark.spill_mb": (sp.get("spill_mb", 0.0), "MB"),
            "spark.output_mb": (sp.get("output_mb", 0.0), "MB"),
        }
        for mod, (b, e) in self.module.items():
            m[f"operators.{mod}.build_s"] = (b, "s")
            m[f"operators.{mod}.exec_s"] = (e, "s")
        m.update(self._sources(run, counters, ops))
        m.update({
            "caches.release_s": (release_s, "s"),
            "caches.live_max": (self.live_max, "count"),
            "caches.shared_builds": (self.shared_builds, "count"),
            "caches.storage_mb": (self.storage_mb, "MB"),
            "tmpdirs.live": (run.tmpdirs.live_count(), "count"),
            "tmpdirs.disk_mb": (probes.du_mb(run.work_dir), "MB"),
            "pipelines.run_pipeline_s": (self.pipeline_s, "s"),
            "pipelines.rows_out": (self.rows_out, "count"),
            "pipelines.sink_mb": (self.sink_mb, "MB"),
            "pipelines.write_s": (self.write_s, "s"),
        })
        m.update(self._streaming())
        m.update({
            "trace.wall_s": (wall_s, "s"),
            "trace.overhead_s": (tracer.overhead_s, "s"),
            "trace.op_unaccounted_share": (
                self.op_self_s / self.op_s if self.op_s else 0.0, "ratio"),
        })
        return m

    def _sources(self, run, counters, ops) -> dict:
        sqls = [s for op in ops for s in oracle_for(run.api, op).values()]
        tables = tables_read(sqls, run.registry.TABLES)
        t0 = time.perf_counter()
        for t in tables:
            with run.span("sources.load_table", table=t):
                run.registry.load_table(run.spark, run.sf_dir, t)
        load_s = time.perf_counter() - t0
        jobs = counters.take_split(None)["build"]["jobs"]
        biggest = max(
            tables, key=lambda t: os.path.getsize(f"{run.sf_dir}/{t}.parquet")
        )
        mb = os.path.getsize(f"{run.sf_dir}/{biggest}.parquet") / 1e6
        t1 = time.perf_counter()
        with run.span("sources.scan", table=biggest):
            run.registry.load_table(run.spark, run.sf_dir, biggest).write.format(
                "noop").mode("overwrite").save()
        scan_s = time.perf_counter() - t1
        counters.take_split(None)
        return {
            "sources.load_table_s": (load_s, "s"),
            "sources.load_table_jobs": (jobs, "count"),
            "sources.scan_mb_per_s": (mb / scan_s, "MB/s"),
        }

    def _streaming(self) -> dict:
        b = self.batches
        trig = [x["trigger_ms"] for x in b]
        add = [x["add_batch_ms"] for x in b]
        over = [x["trigger_ms"] - x["add_batch_ms"] for x in b]
        med = (lambda v: statistics.median(v) if v else 0.0)
        rows = sum(x["input_rows"] for x in b)
        return {
            "streaming.batches": (len(b), "count"),
            "streaming.batch_p50_ms": (med(trig), "ms"),
            "streaming.add_batch_ms": (med(add), "ms"),
            "streaming.overhead_ms": (med(over), "ms"),
            "streaming.state_rows": (max((x["state_rows"] for x in b), default=0),
                                     "count"),
            "streaming.state_mb": (
                max((x["state_bytes"] for x in b), default=0) / 1e6, "MB"),
            "streaming.input_rows_per_s": (
                rows / (sum(trig) / 1e3) if sum(trig) else 0.0, "rows/s"),
        }


if __name__ == "__main__":
    sys.exit(main())
