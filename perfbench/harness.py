"""Shared run plumbing: the process environment, the session set-up,
the op record, and the assembly of end-to-end and per-layer metrics
from what a workload measured."""

from __future__ import annotations

import contextlib
import json
import os
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass, field

import tracing as tr

T0 = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def metric_units(traced: bool) -> dict[str, str]:
    """Name -> unit of the metrics a run reports, as ``BENCHMARK.json``
    declares them: the per-layer ones when traced, else the end-to-end
    ones."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if traced else "end_to_end"]}


def passes(seconds: float, nominal_s: float) -> int:
    """Whole rounds or passes a run makes: ``seconds`` over the time one
    takes on the 4-core reference host, at least one. The count depends
    on ``--seconds`` only, not on the speed of the host, so every run
    has the same ops."""
    return max(1, round(seconds / nominal_s))


# span name -> per-layer metric reported as mean self time per op
SELF_TIME_SPANS = {
    "operators.normalize_plan": "operators.normalize_plan_s",
    "operators.incremental_merge_plan": "operators.incremental_merge_plan_s",
    "operators.watermark": "operators.watermark_s",
    "sources.read_ticker": "sources.read_ticker_s",
    "sources.json_to_df": "sources.json_to_df_s",
    "sources.fetch": "sources.fetch_s",
    "sources.write_ticker": "sources.write_ticker_s",
    "catalog.load_table": "catalog.load_table_s",
    "plans.build": "plans.build_s",
    "plans.action": "plans.action_s",
}


def log(msg: str) -> None:
    print(f"[{time.perf_counter() - T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def environ(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``,
    and size the local session to the host. Must run before the
    JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # get_spark defaults to 16g, more than a small host has
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["SPARK_WAREHOUSE_DIR"] = os.path.join(work, "warehouse")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


@dataclass
class Op:
    """One timed operation (a ticker refresh or a probe execution)."""

    name: str
    start: float  # epoch seconds, comparable with Spark job timestamps
    end: float
    rows: int  # declared input rows
    ok: bool = True
    group: str | None = None  # Spark job group in the traced run
    span: int | None = None  # id of the span that covers the op in the traced run

    @property
    def wall(self) -> float:
        return self.end - self.start


@dataclass
class Ctx:
    seed: int
    seconds: float
    traced: bool
    work: str
    nproc: int = field(default_factory=lambda: len(os.sched_getaffinity(0)))
    tracer: tr.Tracer | None = None

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs) if self.tracer else contextlib.nullcontext({})


def warm(spark) -> None:
    """One small job, so that the executor threads are up before the
    timed section. Python workers stay cold: the first pass pays for
    them, as a fresh batch would."""
    spark.range(200_000).selectExpr("sum(id)").collect()


def set_up(ctx: Ctx) -> tuple[object, float]:
    """Start the session, which launches the JVM and ships the package,
    and :func:`warm` it: the set-up a fresh batch pays. Returns the
    session and the set-up's seconds."""
    from ark_invest_api_rust_data_spark.session import get_spark

    conf = {
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.ui.showConsoleProgress": "false",
        # the whole heap from the start: JVM memory then does not depend
        # on when the collector decides to grow the heap
        "spark.driver.extraJavaOptions": "-Xms" + os.environ["SPARK_DRIVER_MEMORY"],
    }
    if ctx.traced:
        conf.update({
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        })
    t0 = time.perf_counter()
    with ctx.span("session.get_spark"):
        spark = get_spark(app_name="perfbench", extra_conf=conf)
    with ctx.span("session.warmup"):
        warm(spark)
    setup_s = time.perf_counter() - t0
    log(f"session set-up {setup_s:.2f}s")
    return spark, setup_s


def shutdown() -> None:
    """Stop the session and the JVM, if started, and wait for the JVM
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:  # the JVM must not outlive the run
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def mean_wall(ops: list[Op]) -> float:
    """Mean op latency. Not the median: the curation probes differ in
    length, so their median is the latency of the one or two probes in
    the middle and takes their share of the host's noise whole, while
    the mean spreads it over every op of the run."""
    return sum(o.wall for o in ops) / len(ops)


def end_to_end(setup_s: float, first_pass_s: float, ops: list[Op], window_s: float,
               peak_rss_mb: float, bytes_per_row: float) -> dict[str, float]:
    for o in ops:
        print(f"op {o.name} {o.wall:.3f}s{'' if o.ok else ' FAILED'}", file=sys.stderr)
    return {
        "setup_s": setup_s,
        "first_pass_s": first_pass_s,
        "op_mean_s": mean_wall(ops),
        "rows_per_s": sum(o.rows for o in ops) / window_s,
        "peak_rss_mb": peak_rss_mb,
        "cache_bytes_per_row": bytes_per_row,
    }


def per_layer(ctx: Ctx, spark, ops: list[Op], extra: dict[str, float]) -> dict[str, float]:
    """Layer metrics of the traced run, as means per op unless the name
    says otherwise. The spans below an op's span are its layers."""
    tracer = ctx.tracer
    self_t = tracer.self_times()
    by_id = {s["id"]: s for s in tracer.spans}

    def root_of(sid: int) -> int:
        while by_id[sid]["parent"] is not None:
            sid = by_id[sid]["parent"]
        return sid

    op_roots = {o.span for o in ops}
    n = len(ops)
    out = dict.fromkeys(metric_units(traced=True), 0.0)
    spans_in_ops = 0
    for s in tracer.spans:
        if root_of(s["id"]) not in op_roots:
            continue
        spans_in_ops += 1
        key = SELF_TIME_SPANS.get(s["name"])
        if key:
            out[key] += self_t[s["id"]] / n
    out["trace.spans_per_op"] = spans_in_ops / n
    out["trace.unattributed_s"] = sum(self_t[r] for r in op_roots) / n
    out["trace.op_mean_s"] = mean_wall(ops)
    for s in tracer.spans:
        if s["name"] in ("session.get_spark", "session.warmup"):
            out[f"{s['name']}_s"] = s["end"] - s["start"]

    ledger = tr.spark_ledger(spark.sparkContext.uiWebUrl, spark.sparkContext.applicationId)
    gap_total = wall_total = 0.0
    for o in ops:
        g = ledger.get(o.group, {})
        busy = tr.union_length(tr.clip(g.get("intervals", []), o.start, o.end))
        gap_total += o.wall - busy
        wall_total += o.wall
        for k in ("jobs", "stages", "tasks", "failed_tasks", "executor_run_s", "executor_cpu_s",
                  "jvm_gc_s", "shuffle_read_bytes", "shuffle_write_bytes", "input_bytes",
                  "output_bytes", "python_bytes_sent", "python_bytes_returned"):
            out[f"spark.{k}"] += g.get(k, 0) / n
    out["spark.driver_gap_s"] = gap_total / n
    out["spark.driver_gap_share"] = gap_total / wall_total
    out.update(extra)
    return out
