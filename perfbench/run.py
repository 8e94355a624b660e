"""End-to-end and per-layer benchmark of the OpenAQ pipeline and the
driver query catalog.

    python3 perfbench/run.py --workload daily_incremental --seed 1 --seconds 15 --trace 0

Workloads (``BENCHMARK.json`` records why each exists):

- ``daily_incremental``: set-up recovers all but the last day of a
  ``HISTORY_DAYS`` lake history into bronze (``recover_bronze`` for both
  tables), then runs that last day as a scheduled day whose marts, with
  no gold table yet, are written in full; each timed operation is the
  next scheduled day — ``runner.ingest(mode="append")``,
  ``runner.build``, then the incremental ``runner.materialize_marts``.
- ``driver_queries``: each operation is one registered catalog query,
  its result collected to Arrow; one pass runs ``DRIVER_QUERIES`` in
  order, and the first pass is each query's first run in the session.

Inputs come only from ``--seed`` (``lakegen.py``, ``tablegen.py``). The
number of operations is fixed from ``--seconds`` and the workload's
nominal operation time, so every run of a workload times the same work.
Outputs are checked outside the timers: gold marts against the DuckDB
restatement in ``oracle.py``, quality results and ingest counts against
the lake manifest, catalog query results against their DuckDB oracles.
An operation that raises or fails a check counts in ``failed``.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps every
layer call in a span (``tracing.py``) and prints the per-layer metrics.
The end-to-end times are CPU seconds of the driver JVM, its Python
workers and this process, user and system, not wall time: on a shared
virtual machine the wall time of the same work follows the CPU time
other tenants steal (see ``cpu_ticks``), while the kernel leaves stolen
time out of a process's CPU time. ``setup_s`` is the median over the
set-ups of a run, ``op_cpu_s`` the CPU seconds of all timed operations
over their number. Each phase counts until the JVM is idle after it
(``tracing.settle``), so the JIT compilation a phase queues is its own.
Wall times are in the detail line.
The last stdout line is the result object; the line before it holds the
details (per-operation wall and CPU seconds, their medians, the tail
percentile, spans, the time of each phase of the run, and two host-load
markers: the calibration and the share of CPU time stolen by other
tenants while the operations ran).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "openaq_data_pipeline_spark"

HISTORY_DAYS = 30  # one day is 1/30 of the bronze history
SETUP_REPEATS = {"daily_incremental": 1, "driver_queries": 5}
# wall seconds one operation (for driver_queries: one pass) takes on a
# 4-core host
NOMINAL_OP_S = {"daily_incremental": 15.0, "driver_queries": 15.0}
# One pass: every tenth registered query, from the seventh, in the order
# of its measured warm time on the generated tables. Of the ten such
# samples it is the only one whose mean time and mean jobs per query both
# lie within 15% of the whole catalog's (measured in CATALOG_SAMPLE.md).
DRIVER_QUERIES = ["robots_sitemap_discovery", "quality_report", "frontier_schedule",
                  "dsir_importance_select", "content_encoding_route"]
# the catalog's fastest query, outside the pass: it pays the session's
# one-off start costs in set-up
WARMUP_QUERY = "int_valid_events"
# the slowest driver queries, profiled once per traced run
PROFILED_QUERIES = ["ann_topk_ivf_pq", "dedup_incremental", "hybrid_retrieval_rrf",
                    "quality_classifier", "pagerank_entities"]
LAYER_SPANS = ["sources", "quality", "incremental", "catalog", "runner.build"]
# The package's 8g default heap made the same runs 30-60% slower on a
# 4-vCPU VM, with peak resident memory near 4-5 GB instead of 1.5-2.8 GB;
# these inputs fit a 1g heap.
DRIVER_MEMORY = "1g"


def _files(*paths: Path) -> set[tuple]:
    out = set()
    for path in paths:
        for dirpath, _, names in os.walk(path):
            for n in names:
                if not n.startswith((".", "_")):
                    st = os.stat(os.path.join(dirpath, n))
                    out.add((os.path.join(dirpath, n), st.st_size, st.st_mtime_ns))
    return out


def _du(*paths: Path) -> int:
    return sum(size for _, size, _ in _files(*paths))


class Ctx:
    def __init__(self, spark, tracer, work: Path, seed: int, n_ops: int):
        self.spark, self.tracer, self.work, self.seed, self.n_ops = (
            spark, tracer, work, seed, n_ops)
        self.trace_counts: dict[str, float] = {}

    def add(self, key: str, value: float) -> None:
        self.trace_counts[key] = self.trace_counts.get(key, 0) + value


class DailyIncremental:
    def __init__(self, ctx: Ctx):
        from openaq_data_pipeline_spark import schemas
        from openaq_data_pipeline_spark.plans import runner

        self.ctx, self.runner, self.schemas = ctx, runner, schemas
        self.lake = ctx.work / "lake"
        self.wh = ctx.work / "warehouse"
        self.n_days = HISTORY_DAYS + ctx.n_ops
        self.stored = [self.wh / "bronze", self.wh / "gold"]
        self.ops = range(ctx.n_ops)

    def setup(self) -> None:
        """Recover all but the last history day, then load that day the
        way the timed operations do, so they start on a warm session.
        With no gold table yet, that day writes the marts in full."""
        import lakegen

        shutil.rmtree(self.lake, ignore_errors=True)
        shutil.rmtree(self.wh, ignore_errors=True)
        self.rows, self.manifest = lakegen.write_lake(
            str(self.lake), self.ctx.seed, lakegen.LakeSpec(n_days=self.n_days),
            range(HISTORY_DAYS, self.n_days + 1))
        self.recover(range(HISTORY_DAYS - 1))
        self.warmup = {"errors": []}
        with self.ctx.tracer.span("setup.first_day"):
            self.op(-1, self.warmup)

    def paths(self, days):
        import lakegen

        return self.runner.PipelinePaths(
            root=str(self.wh),
            lake_locations=lakegen.day_glob(str(self.lake), "locations", days),
            lake_measurements=lakegen.day_glob(str(self.lake), "measurements", days))

    def lake_bytes(self, days) -> int:
        return sum(self.manifest["days"][d][t]["bytes"] for d in days
                   for t in ("locations", "measurements"))

    def recover(self, days) -> None:
        from openaq_data_pipeline_spark.sources import bronze

        p = self.paths(days)
        for lake, schema, target, cluster in (
            (p.lake_locations, self.schemas.RAW_LOCATIONS, p.bronze_locations, None),
            (p.lake_measurements, self.schemas.RAW_MEASUREMENTS, p.bronze_measurements,
             ["_audit_sensor_id", "_audit_extracted_at"]),
        ):
            with self.ctx.tracer.span("setup.recover_bronze"):
                bronze.recover_bronze(self.ctx.spark, lake, schema, target, cluster_by=cluster)

    def source_counts(self, sp, table, rows_out, before, target) -> None:
        key = "locations" if table == "raw_locations" else "measurements"
        entries = [self.manifest["days"][d][key] for d in self.days]
        sp.counts_extra = {
            "rows_in": sum(e["rows"] + e["corrupt"] for e in entries),
            "rows_out": rows_out,
            "files_written": len(_files(Path(target)) - before),
        }

    def materialize(self, days_in_bronze: int) -> None:
        with self.ctx.tracer.span("runner.materialize_marts"):
            self.runner.materialize_marts(self.ctx.spark, self.paths(range(days_in_bronze)))

    def op(self, i: int, op: dict) -> None:
        d = HISTORY_DAYS + i
        day = self.manifest["days"][d]
        op["input_rows"] = day["locations"]["rows"] + day["measurements"]["rows"]
        op["input_bytes"] = self.lake_bytes([d])
        self.days = [d]
        with self.ctx.tracer.span("runner.ingest"):
            counts = self.runner.ingest(self.ctx.spark, self.paths([d]), mode="append")
        op["sources_rows_out"] = sum(counts.values())
        want = {"raw_locations": day["locations"]["rows"],
                "raw_measurements": day["measurements"]["rows"]}
        if counts != want:
            op["errors"].append(f"ingest counts {counts} != manifest {want}")
        with self.ctx.tracer.span("runner.build"):
            _, results, fresh = self.runner.build(
                self.ctx.spark, self.paths(range(d + 1)), raise_on_failure=False)
        failures = {r.check.name: r.failures for r in results if r.failures}
        expected = self.manifest["expected"][d + 1]
        want = {k: v for k, v in expected["failures"].items() if v}
        op["failures_by_check"] = failures
        op["checks"] = len(results)
        if failures != want:
            op["errors"].append(f"quality failures {failures} != manifest {want}")
        if any(f.status != expected["freshness"] for f in fresh):
            op["errors"].append(f"freshness {[f.status for f in fresh]}")
        self.materialize(d + 1)

    def verify(self) -> list[str]:
        from oracle import MartOracle, spark_rows

        oracle = MartOracle(self.rows, self.n_days)
        errors = list(self.warmup["errors"])
        for mart in ("mart_location_air_quality", "mart_location_weather"):
            oracle.full_refresh(mart, HISTORY_DAYS)
            for days in range(HISTORY_DAYS + 1, self.n_days + 1):
                oracle.incremental(mart, days)
            got, cols = spark_rows(self.ctx.spark, str(self.wh / "gold" / mart))
            want = oracle.rows(mart)
            if sorted(map(repr, got)) != sorted(map(repr, want)):
                missing = set(map(repr, want)) - set(map(repr, got))
                errors.append(f"{mart}: {len(got)} rows vs oracle {len(want)}; "
                              f"first missing {sorted(missing)[:1]} cols {cols}")
        return errors

    def trace_extra(self) -> dict[str, float]:
        """Per-model noop sinks over the final bronze state, after the
        timed operations: seconds, rows in and out, keep ratio and J2
        fan-out."""
        spark = self.ctx.spark
        models = self.runner.transform(spark, self.paths(range(self.n_days)))
        out, rows = {}, {}
        for layer, names in MODELS.items():
            for name in names:
                t0 = time.perf_counter()
                models[name].write.format("noop").mode("overwrite").save()
                out[f"{layer}.{name}.noop_s"] = time.perf_counter() - t0
                rows[name] = models[name].count()
        rows["raw"] = models["raw_locations"].count() + models["raw_measurements"].count()
        enriched = models["int_sensors_enriched"].select("sensor_id")
        joined = models["int_valid_measurements"].join(enriched, "sensor_id").count()
        stg = sum(rows[n] for n in MODELS["staging"])
        out.update({
            "staging.rows_in": rows["raw"],
            "staging.rows_out": stg,
            "intermediate.rows_in": stg,
            "intermediate.rows_out":
                rows["int_valid_measurements"] + rows["int_sensors_enriched"],
            "intermediate.valid_keep_ratio":
                rows["int_valid_measurements"] / rows["stg_openaq__measurements"],
            "marts.rows_in": rows["int_valid_measurements"],
            "marts.rows_out": sum(rows[n] for n in MODELS["marts"]),
            "marts.join_fanout": joined / rows["int_valid_measurements"],
            "pipeline.space_amp": _du(*self.stored) / self.lake_bytes(range(self.n_days)),
        })
        return out


MODELS = {"staging": ["stg_openaq__locations", "stg_openaq__sensors",
                      "stg_openaq__measurements"],
          "intermediate": ["int_valid_measurements", "int_sensors_enriched"],
          "marts": ["dim_locations", "mart_location_air_quality", "mart_location_weather"]}


class DriverQueries:
    def __init__(self, ctx: Ctx):
        from openaq_data_pipeline_spark import catalog

        self.ctx = ctx
        self.tables = ctx.work / "tables"
        by_name = {q.name: q for q in catalog.registry()}
        self.queries = [by_name[n] for n in DRIVER_QUERIES]
        self.profiled = [by_name[n] for n in PROFILED_QUERIES]
        self.ops = [q for _ in range(ctx.n_ops) for q in self.queries]
        self.warmup = by_name[WARMUP_QUERY]
        self.stored = []
        self.results = {}

    def setup(self) -> None:
        import tablegen

        shutil.rmtree(self.tables, ignore_errors=True)
        tablegen.write_tables(str(self.tables), self.ctx.seed)
        self._run(self.warmup, "setup.warmup")

    def op(self, i: int, op: dict) -> None:
        q = self.ops[i]
        op["query"] = q.name
        self.results[q.name] = self._run(q, f"catalog.{q.name}")

    def _run(self, q, span: str):
        """Plan and run ``q``; its result is collected, as the oracle
        harness collects it, so the check needs no second execution."""
        tracer = self.ctx.tracer
        try:
            with tracer.span(span):
                with tracer.span("catalog.plan"):
                    df = q.build(self.ctx.spark, str(self.tables))
                with tracer.span("catalog.exec"):
                    return df.toArrow()
        finally:
            self._cleanup()

    def _cleanup(self) -> None:
        import gc

        for s in self.ctx.spark.streams.active:
            s.stop()
        self.ctx.spark.catalog.clearCache()
        gc.collect()

    def verify(self) -> list[str]:
        from tests.oracle_harness import compare, run_oracle

        class Collected:  # what ``compare`` reads of a DataFrame
            def __init__(self, table):
                self.toArrow = lambda: table

        errors = []
        for q in self.queries:
            if q.name not in self.results:
                continue  # its operation raised and counts as failed
            problems = compare(Collected(self.results[q.name]),
                               run_oracle(q.oracle, str(self.tables)))
            if problems:
                errors.append(f"{q.name}: {problems[:2]}")
        return errors

    def trace_extra(self) -> dict[str, float]:
        """One profiled execution of each of the slowest catalog queries,
        outside the timed operations."""
        for q in self.profiled:
            self._run(q, f"profile.{q.name}")
        return {}


WORKLOADS = {"daily_incremental": DailyIncremental, "driver_queries": DriverQueries}


def pin_environment(work: Path, cores: int) -> None:
    """Everything Spark and the package write goes under ``work``; the
    package is importable by Python workers started outside the repo."""
    for d in ("tmp", "spark-local", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    tempfile.tempdir = None
    sys.path[:0] = [str(ROOT), str(HERE)]


def start_spark(work: Path, cores: int):
    from openaq_data_pipeline_spark import get_spark

    return get_spark(master=f"local[{cores}]", shuffle_partitions=cores, extra_conf={
        "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    })


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def tail(values: list[float]) -> tuple[float | None, float | None]:
    """The highest percentile with at least ten samples beyond it, and
    that percentile; ``None`` with fewer than eleven samples."""
    s = sorted(values)
    if len(s) < 11:
        return None, None
    k = len(s) - 11
    return s[k], 100.0 * (k + 1) / len(s)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot: time the
    hypervisor gave this machine's CPUs to other tenants."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks)


def host_load(spark) -> list[float]:
    """``bench.py``'s fixed calibration workload: a host-load marker
    recorded with each run, never a metric."""
    import bench

    return bench._calibrate(spark)


def per_layer(ctx: Ctx, ops: list[dict]) -> dict[str, float]:
    from tracing import totals

    spans = ctx.tracer.spans
    n = len(ops)
    m: dict[str, float] = {}

    def avg(x) -> float:
        return x / n

    src = totals(spans, "sources.")
    extra = [getattr(sp, "counts_extra", {}) for sp in spans
             if sp.name.startswith("sources.") and sp.in_op]
    rows_in = sum(e.get("rows_in", 0) for e in extra)
    rows_out = sum(op.get("sources_rows_out", 0) for op in ops)
    m.update({
        "sources.ingest_s": avg(src["wall_s"]),
        "sources.rows_in": avg(rows_in),
        "sources.rows_out": avg(rows_out),
        "sources.corrupt_dropped": avg(rows_in - rows_out) if rows_in else 0.0,
        "sources.bytes_read": avg(src.get("input_bytes", 0)),
        "sources.bytes_written": avg(src.get("output_bytes", 0)),
        "sources.files_written": avg(sum(e.get("files_written", 0) for e in extra)),
        "sources.jobs": avg(src.get("jobs", 0)),
    })
    for name in ("plan", "ingest", "build", "materialize_marts"):
        m[f"runner.{name}_s"] = avg(totals(spans, f"runner.{name}")["wall_s"])
    for name in ("recover_bronze", "first_day"):
        m[f"setup.{name}_s"] = totals(spans, f"setup.{name}", within=None)["wall_s"]
    suite, fresh = totals(spans, "quality.suite"), totals(spans, "quality.freshness")
    qual = totals(spans, "quality.")
    m.update({
        "quality.suite_s": avg(suite["wall_s"]),
        "quality.freshness_s": avg(fresh["wall_s"]),
        "quality.jobs": avg(qual.get("jobs", 0)),
        "quality.checks": avg(sum(op.get("checks", 0) for op in ops)),
        "quality.failed_checks": avg(sum(len(op.get("failures_by_check", {})) for op in ops)),
        "quality.failures": avg(sum(sum(op.get("failures_by_check", {}).values())
                                    for op in ops)),
    })
    merge = totals(spans, "incremental.merge")
    m.update({
        "incremental.hwm_s": avg(totals(spans, "incremental.hwm")["wall_s"]),
        "incremental.merge_s": avg(merge["wall_s"]),
        **{f"incremental.{k}": avg(ctx.trace_counts.get(k, 0))
           for k in ("partitions_rewritten", "bytes_rewritten", "rows_incoming")},
        # the merge writes kept and incoming rows together
        "incremental.rows_kept": avg(sum(
            sp.counts.get("output_records", 0) - sp.counts_extra["rows_incoming"]
            for sp in ctx.merges)),
    })
    cat = totals(spans, "catalog.")
    plan, exe = totals(spans, "catalog.plan"), totals(spans, "catalog.exec")
    m.update({
        "catalog.plan_s": avg(plan["wall_s"]),
        "catalog.exec_s": avg(exe["wall_s"]),
        "catalog.jobs": avg(cat.get("jobs", 0)),
        "catalog.stages": avg(cat.get("stages", 0)),
        "catalog.tasks": avg(cat.get("tasks", 0)),
        "catalog.jobs_escaped": avg(cat.get("jobs_escaped", 0)),
    })
    for q in PROFILED_QUERIES:
        t = totals(spans, f"profile.{q}", within=None)
        m[f"catalog.{q}.exec_s"] = totals(spans, "catalog.exec", within=f"profile.{q}")["wall_s"]
        m[f"catalog.{q}.jobs"] = t.get("jobs", 0)
        m[f"catalog.{q}.jobs_escaped"] = t.get("jobs_escaped", 0)
    for layer in LAYER_SPANS:
        t = totals(spans, layer)
        m[f"{layer}.task_s"] = avg(t.get("task_s", 0))
        m[f"{layer}.wall_s"] = avg(t["wall_s"])
        m[f"{layer}.shuffle_bytes"] = avg(t.get("shuffle_read_bytes", 0)
                                          + t.get("shuffle_write_bytes", 0))
        m[f"{layer}.spill_bytes"] = avg(t.get("spill_bytes", 0))
    # pipeline rates over the timed operations, less the tracer's own jobs
    in_bytes = sum(op.get("input_bytes", 0) for op in ops)
    traced_s = sum(op["seconds"] for op in ops) - totals(spans, "trace.")["wall_s"]
    m["pipeline.write_amp"] = (sum(op.get("written_bytes", 0) for op in ops) / in_bytes
                               if in_bytes else 0.0)
    m["pipeline.throughput_rows_per_s"] = sum(op.get("input_rows", 0) for op in ops) / traced_s
    return m


def instrument(ctx: Ctx) -> list:
    """Wrap each layer function where the runner binds it. Returns the
    undo callables."""
    from openaq_data_pipeline_spark import incremental, quality
    from openaq_data_pipeline_spark.plans import runner

    tr = ctx.tracer
    undo = [
        tr.wrap(runner, "transform", "runner.plan"),
        tr.wrap(quality, "run_suite", "quality.suite"),
        tr.wrap(quality, "source_freshness", "quality.freshness"),
        tr.wrap(incremental, "high_watermark", "incremental.hwm"),
    ]
    original_load = runner.load_bronze

    def load_bronze(spark, lake_glob, schema, bronze_path, *args, **kwargs):
        before = _files(Path(bronze_path))
        with tr.span("sources.load_bronze") as sp:
            rows_out = original_load(spark, lake_glob, schema, bronze_path, *args, **kwargs)
        table = "raw_locations" if schema is runner.schemas.RAW_LOCATIONS else "raw_measurements"
        ctx.wl.source_counts(sp, table, rows_out, before, bronze_path)
        return rows_out

    runner.load_bronze = load_bronze
    undo.append(lambda: setattr(runner, "load_bronze", original_load))
    original_merge = incremental.merge_upsert

    def merge_upsert(spark, table, incoming):
        before = _files(Path(table.path))
        with tr.span("trace.count_incoming"):
            n_in = incoming.count()
        with tr.span("incremental.merge") as sp:
            original_merge(spark, table, incoming)
        if not sp.in_op:
            return
        new = _files(Path(table.path)) - before
        ctx.add("partitions_rewritten", len({os.path.dirname(p) for p, _, _ in new}))
        ctx.add("bytes_rewritten", sum(size for _, size, _ in new))
        ctx.add("rows_incoming", n_in)
        sp.counts_extra = {"rows_incoming": n_in}
        ctx.merges.append(sp)

    ctx.merges = []
    incremental.merge_upsert = merge_upsert
    undo.append(lambda: setattr(incremental, "merge_upsert", original_merge))
    return undo


def run(args, work: Path) -> tuple[dict, dict]:
    cores = len(os.sched_getaffinity(0))
    pin_environment(work, cores)
    from tracing import RssSampler, Tracer, cpu_seconds, settle

    n_ops = max(1, round(args.seconds / NOMINAL_OP_S[args.workload]))
    phases: dict[str, float] = {"settle_s": 0.0}

    def settled() -> float:
        t0 = time.perf_counter()
        cpu = settle()
        phases["settle_s"] += time.perf_counter() - t0
        return cpu

    rss = RssSampler()
    with rss:
        t0 = time.perf_counter()
        spark = start_spark(work, cores)
        phases["session_s"] = time.perf_counter() - t0
        try:
            tracer = Tracer(spark, enabled=bool(args.trace))
            ctx = Ctx(spark, tracer, work, args.seed, n_ops)
            wl = ctx.wl = WORKLOADS[args.workload](ctx)
            undo = instrument(ctx) if args.trace else []
            try:
                # CPU seconds of a phase count until the JVM is idle after
                # it, so the JIT compilation it queued is its own
                setup_s, setup_cpu_s = [], []
                cpu_mark = settled()
                for _ in range(SETUP_REPEATS[args.workload]):
                    t0 = time.perf_counter()
                    wl.setup()
                    setup_s.append(time.perf_counter() - t0)
                    now = settled()
                    setup_cpu_s.append(now - cpu_mark)
                    cpu_mark = now
                jit_mark = rss.jit_seconds()
                ops: list[dict] = []
                steal0, total0 = cpu_ticks()
                t_run = time.perf_counter()
                for i in range(len(wl.ops)):
                    op = {"errors": []}
                    before = _files(*wl.stored) if args.trace else set()
                    cpu0, jit0 = cpu_seconds(), rss.jit_seconds()
                    t0 = time.perf_counter()
                    try:
                        with tracer.span("op") as sp:
                            wl.op(i, op)
                    except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
                        op["errors"].append(f"{type(e).__name__}: {e}"[:500])
                    op["seconds"] = time.perf_counter() - t0
                    op["cpu_s"] = cpu_seconds() - cpu0
                    op["jit_s"] = rss.jit_seconds() - jit0
                    op["span"] = sp
                    if args.trace:
                        op["written_bytes"] = sum(
                            size for _, size, _ in _files(*wl.stored) - before)
                    ops.append(op)
                run_s = time.perf_counter() - t_run
                steal1, total1 = cpu_ticks()
                ops_cpu_s = settled() - cpu_mark
                ops_jit_s = rss.jit_seconds() - jit_mark
                # the program's peak: what follows (the traced extras, the
                # DuckDB oracles in this process, the calibration) is the
                # benchmark's own work
                rss.sample()
                peak_rss_bytes = rss.peak_bytes
                t0 = time.perf_counter()
                layer_models = wl.trace_extra() if args.trace else {}
                phases["trace_extra_s"] = time.perf_counter() - t0
                t0 = time.perf_counter()
                try:
                    verify_errors = wl.verify()
                except Exception as e:  # noqa: BLE001 - oracle failure fails every op
                    verify_errors = [f"verify: {type(e).__name__}: {e}"[:500]]
                phases["verify_s"] = time.perf_counter() - t0
                tracer.resolve()
                t0 = time.perf_counter()
                calibration = host_load(spark)
                phases["calibration_s"] = time.perf_counter() - t0
            finally:
                for u in undo:
                    u()
        finally:
            t0 = time.perf_counter()
            stop_spark(spark)
            phases["stop_s"] = time.perf_counter() - t0

    if isinstance(wl, DriverQueries):
        bad = {e.split(":", 1)[0] for e in verify_errors}
        for op in ops:
            if op["query"] in bad:
                op["errors"].append("oracle mismatch")
    elif verify_errors:
        for op in ops:
            op["errors"].extend(verify_errors)
    failed = sum(1 for op in ops if op["errors"])
    seconds = [op["seconds"] for op in ops]
    tail_s, tail_p = tail(seconds)
    e2e = {
        "setup_s": (statistics.median(setup_cpu_s), "s"),
        "op_cpu_s": (ops_cpu_s / len(ops), "s"),
        "peak_rss_mb": (peak_rss_bytes / 2**20, "MB"),
    }
    detail = {
        "workload": args.workload, "seed": args.seed, "cores": cores, "n_ops": len(ops),
        "phases": phases, "setup_runs_s": setup_s, "setup_runs_cpu_s": setup_cpu_s,
        "op_p50_s": statistics.median(seconds), "run_s": run_s,
        "peak_rss_run_mb": rss.peak_bytes / 2**20,
        "op_tail_s": tail_s, "op_tail_percentile": tail_p, "op_samples": len(seconds),
        "fail_ratio": failed / len(ops),
        "ops": [{k: v for k, v in op.items() if k != "span"} for op in ops],
        "verify_errors": verify_errors, "host_load_calibration_s": calibration,
        "host_steal_share": (steal1 - steal0) / max(total1 - total0, 1),
    }
    if args.trace:
        metrics = {k: 0.0 for k in MODEL_METRICS}
        metrics.update(per_layer(ctx, ops))
        metrics.update(layer_models)
        metrics["trace.op_p50_s"] = statistics.median(seconds)
        metrics["trace.op_cpu_s"] = ops_cpu_s / len(ops)
        metrics["jvm.jit_s"] = ops_jit_s / len(ops)
        metrics["trace.bookkeeping_ratio"] = ctx.tracer.bookkeeping_s / sum(seconds)
        detail["spans"] = [
            {"name": sp.name, "parent": sp.parent, "wall_s": sp.wall_s, **sp.counts}
            for sp in ctx.tracer.spans
        ]
        detail["op_jobs"] = [op["span"].counts.get("jobs", 0) for op in ops]
        out = {k: {"value": v, "unit": UNITS.get(k.rsplit(".", 1)[-1], "count")}
               for k, v in metrics.items()}
    else:
        out = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    result = {"correct": failed == 0, "attempted": len(ops), "failed": failed, "metrics": out}
    return result, detail


MODEL_METRICS = [
    *(f"{layer}.{n}.noop_s" for layer, names in MODELS.items() for n in names),
    "staging.rows_in", "staging.rows_out", "intermediate.rows_in", "intermediate.rows_out",
    "intermediate.valid_keep_ratio", "marts.rows_in", "marts.rows_out", "marts.join_fanout",
    "pipeline.space_amp",
]
UNITS = {"ingest_s": "s", "noop_s": "s", "plan_s": "s", "build_s": "s",
         "materialize_marts_s": "s", "recover_bronze_s": "s", "first_day_s": "s",
         "suite_s": "s", "freshness_s": "s", "hwm_s": "s", "merge_s": "s", "exec_s": "s",
         "task_s": "s", "wall_s": "s", "op_p50_s": "s", "op_cpu_s": "s", "jit_s": "s",
         "bytes_read": "bytes", "bytes_written": "bytes", "bytes_rewritten": "bytes",
         "shuffle_bytes": "bytes", "spill_bytes": "bytes", "valid_keep_ratio": "ratio",
         "join_fanout": "ratio", "write_amp": "ratio", "space_amp": "ratio",
         "throughput_rows_per_s": "rows/s", "bookkeeping_ratio": "ratio"}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: {PACKAGE}/ not found in {ROOT}; run from a checkout of the repo",
              file=sys.stderr)
        sys.exit(2)
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        result, detail = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            (ROOT / ".perfbench_work").rmdir()
        except OSError:
            pass
    print(json.dumps(detail, sort_keys=True, default=str))
    print(json.dumps(result, sort_keys=True))


if __name__ == "__main__":
    main()
