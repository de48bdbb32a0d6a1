"""End-to-end benchmark of the Data Vault pipeline, with per-layer tracing.

    python3 perfbench/run.py --workload daily_wide --seed 1 --seconds 10 --trace 0

Run from the repository root. Each run builds its inputs from `--seed`,
sets up a Spark session, runs the workload's timed body through the
package's public API (Pipeline.run, report.*, the housekeeping DAGs),
checks the outputs, and prints as its last stdout line
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
`--trace 0` the metrics are the end-to-end ones; with `--trace 1` the
package's layers are wrapped with spans (perfbench/spans.py) and the
metrics are the per-layer ones. Run context (cores, memory, CPU steal,
the JVM canary, input deltas) is printed on the line before it and saved
with the spans under perfbench/results/. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import resource
import shutil
import statistics
import sys
import time

import gen
import replay

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
RESULTS = os.path.join(HERE, "results")
DATES = [f"2024-01-{d:02d}" for d in range(1, 29)]
#: warehouse schemas the data-housekeeping DAG compacts (the ledger's
#: operational_metadata tables are left to grow, so ledger.* shows it)
DATA_SCHEMAS = ("raw_vault",)
#: the transient landing area: once the last date is loaded and
#: reconciled its tables leave the live set, and the GC deletes their files
TRANSIENT_SCHEMA = "staging"
#: job-group layers whose jobs shuffle; staging, ledger and scan jobs are
#: map-only here, so their shuffle bytes are always 0 and not reported
SHUFFLE_LAYERS = ("pipeline.drift", "pipeline.checks", "vault",
                  "housekeeping", "report")
#: leaf layers: their self times are the attributed share of a traced run
#: (pipeline.run, dag.run and task.* spans only wrap them)
LEAF_LAYERS = ("pipeline.stage", "pipeline.drift", "pipeline.checks", "vault",
               "ledger", "txn", "housekeeping", "report", "scan")

_now = time.perf_counter
_T0 = _now()


def log(msg: str) -> None:
    print(f"# [{_now() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- host --
def host_cores() -> tuple[int, int]:
    """(nproc, cores the benchmark uses): capped at 4 so the run fits its
    time budget and leaves a shared host room."""
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return n, max(2, min(n, 4))


def driver_mem() -> str:
    """An eighth of MemTotal, at most 1 GiB: the package default of 16g
    exceeds small hosts, and a heap the workloads fill keeps the peak RSS
    steady from run to run (local mode runs executors in the driver)."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(f.readline().split()[1])
    except (OSError, ValueError, IndexError):
        kb = 8 << 20
    mb = max(512, min(1024, kb // 1024 // 8))
    return f"{mb}m"


def steal_snapshot():
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:11]]
        return v[7], sum(v)
    except (OSError, ValueError, IndexError):
        return None


def peak_rss_mb(spark) -> float:
    """Peak RSS of this Python process plus the driver JVM's (VmHWM)."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    try:
        pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    except Exception:
        pass
    return (py_kb + jvm_kb) / 1024.0


# ------------------------------------------------------------- session --
def session(cores: int):
    from airflow_etl_spark import get_spark

    tmp = os.path.join(WORK, "tmp")
    return get_spark(
        "perfbench", cpus=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # keep every job and stage of a run for per-layer attribution
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100",
            # keep the JVM's temp files in the checkout; no hsperfdata file
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(WORK, "spark-warehouse"),
        },
    )


def stop_jvm(spark) -> None:
    """Stop the session and wait for the driver JVM to exit: it ends on
    EOF of its stdin, which PySpark holds open until told."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def list_tables(wh: str) -> list[str]:
    """Every table dir (<warehouse>/<schema>/<table>)."""
    out = []
    for schema in sorted(os.listdir(wh)):
        sd = os.path.join(wh, schema)
        if os.path.isdir(sd):
            out += [os.path.join(sd, t) for t in sorted(os.listdir(sd))
                    if os.path.isdir(os.path.join(sd, t))]
    return out


def live_tables(wh: str) -> list[str]:
    """Table dirs that still have a live manifest (not GC'd)."""
    from airflow_etl_spark.sources import txn

    return [x for x in list_tables(wh) if txn.live_manifest(x) is not None]


def schema_of(table_dir: str) -> str:
    return os.path.basename(os.path.dirname(table_dir))


def count_files(path: str) -> int:
    return sum(len(fns) for _dp, _dn, fns in os.walk(path))


def du(path: str) -> int:
    total = 0
    for dp, _dn, fns in os.walk(path):
        for fn in fns:
            try:
                total += os.path.getsize(os.path.join(dp, fn))
            except OSError:
                pass
    return total


# ----------------------------------------------------------- workloads --
class PipelineWorkload:
    """A multi-date Pipeline run: initial load, incremental dates, the
    completion report, housekeeping (compaction + unused-file GC) and a
    full scan of the warehouse."""

    name = ""
    n_days = 2
    max_workers = 1
    delta = gen.DeltaSpec()
    #: Pipeline(satellite_buckets=...): COW satellite partitions, sized to
    #: the workloads' tables (the package default of 32 suits far larger)
    buckets = 8

    def tables(self) -> list[gen.TableSpec]:
        raise NotImplementedError

    def sources(self):
        """(SourceConfig list, MultiSourceConfig or None)"""
        raise NotImplementedError

    def generate(self, seed: int, out: str) -> gen.DatedInputs:
        return gen.write_dated(out, seed, self.tables(), self.n_days,
                               self.delta)

    def warmup(self, spark, inputs) -> None:
        d = inputs.dirs[0]
        for t in sorted(os.listdir(d)):
            noop(spark.read.parquet(os.path.join(d, t)))

    def staged_rows(self, inputs) -> int:
        """Input rows the pipeline stages over all dates."""
        srcs, _multi = self.sources()
        return sum(day[t] for day in inputs.rows for s in srcs
                   for t in s.tables)

    def body(self, spark, inputs, wh: str, tracer) -> dict:
        from airflow_etl_spark import housekeeping, report
        from airflow_etl_spark.ledger import CHECKPOINT_SCHEMA, STATUS_SCHEMA
        from airflow_etl_spark.pipeline import Pipeline
        from airflow_etl_spark.sources import read_table, txn

        srcs, multi = self.sources()
        dates = DATES[: self.n_days]
        out = {"load_s": [], "tasks": 0, "tasks_failed": 0}

        def tally(dag_statuses):
            out["tasks"] += len(dag_statuses)
            out["tasks_failed"] += sum(s not in ("success", "skipped")
                                       for s in dag_statuses.values())

        def phase(name):
            if tracer:
                tracer.phase = name

        t_body = _now()
        for i, d in enumerate(dates):
            phase("initial" if i == 0 else "incremental")
            p = Pipeline(spark, wh, srcs, inputs.dirs[i], multi=multi,
                         satellite_buckets=self.buckets)
            if i == 0:
                p.ledger.seed_dates([(x, 0, None, 0) for x in dates])
            t0 = _now()
            res = p.run(max_workers=self.max_workers)
            out["load_s"].append(_now() - t0)
            for src in res.values():
                for dag in src.values():
                    tally(dag)
        phase("post")

        # completion report: the checkpoint roll-up and the error summary
        t0 = _now()
        with traced(tracer, "report", "report"):
            roll = report.checkpoint_rollup(
                p.ledger.read("checkpoints", CHECKPOINT_SCHEMA))
            report.rollup_totals(roll).collect()
            report.error_counts(
                p.ledger.read("status_tasks", STATUS_SCHEMA)).count()
            report.render_template(
                "<h1>{{date}}</h1>{{rollup}}",
                {"date": dates[-1], "rollup": report.to_html_table(roll)})
        out["report_s"] = _now() - t0

        # housekeeping: compact the vault tables, then GC the files no live
        # table claims (the staging tables, dropped from the live set)
        phase("housekeeping")
        paths = [x for x in list_tables(wh) if schema_of(x) in DATA_SCHEMAS]
        out["files_before"] = sum(len(txn.data_files(x)) for x in paths)
        transient = os.path.join(wh, TRANSIENT_SCHEMA)
        t0 = _now()
        tally(housekeeping.data_housekeeping_dag(
            spark, paths, max_workers=self.max_workers).run(
            p.ledger, "housekeeping", dates[-1]))
        t_gc = _now()
        n_files = count_files(transient)
        keep = [x for x in list_tables(wh) if schema_of(x) != TRANSIENT_SCHEMA]
        tally(housekeeping.unused_file_dag(
            spark, wh, keep, dry_run=False, grace_s=0.0).run(
            p.ledger, "housekeeping", dates[-1]))
        out["orphans_deleted"] = n_files - count_files(transient)
        out["gc_s"] = _now() - t_gc
        out["housekeeping_s"] = _now() - t0
        out["compact_s"] = t_gc - t0
        phase("post")

        # full scan: the read cost of the layout the writes produced
        t0 = _now()
        with traced(tracer, "scan", "scan", group="scan"):
            for x in live_tables(wh):
                noop(read_table(spark, x))
        out["scan_s"] = _now() - t0
        out["run_s"] = _now() - t_body
        out["hk_tables"] = len(paths)
        out["files_after"] = sum(len(txn.data_files(x)) for x in paths)
        return out

    def measure_layout(self, wh: str) -> dict:
        from airflow_etl_spark.sources import txn

        files = live = 0
        for x in live_tables(wh):
            files += len(txn.data_files(x))
            live += txn.live_bytes(x)
        return {"files_end": files, "live_bytes": live, "disk_bytes": du(wh)}

    def check(self, inputs, wh: str) -> dict:
        srcs, multi = self.sources()
        dates = DATES[: self.n_days]
        exp = replay.expected_vault(srcs, multi, list(zip(dates, inputs.dirs)))
        return {
            "vault": replay.compare_vault(os.path.join(wh, "raw_vault"), exp),
            "ledger": replay.ledger_gate(
                os.path.join(wh, "operational_metadata"), dates),
        }


class DailyWide(PipelineWorkload):
    """Control plane, sized to the time budget: two small sources fanned out
    on two workers. Both are systems exporting the same customer master;
    they feed a multi-source hub, and one carries a link."""

    name = "daily_wide"
    max_workers = 2
    delta = gen.DeltaSpec(change=0.05, new=0.03, retire=0.02)

    def tables(self):
        return [gen.TableSpec("customer", "customer", 150)]

    def sources(self):
        from airflow_etl_spark.pipeline import (
            EntityConfig, LinkConfig, MultiSourceConfig, SourceConfig)

        def entity(name):
            return EntityConfig(name, "customer", gen.KEYS["customer"],
                                gen.MUTABLE["customer"],
                                domain="01_Customer")

        srcs = [
            SourceConfig("src00", ["customer"], [entity("customer_00")]),
            SourceConfig("src01", ["customer"], [entity("customer_01")],
                         [LinkConfig("customer_nation_01", "customer",
                                     "customer_01", ["c_custkey"], "nation",
                                     ["c_nationkey"], domain="02_Geo")]),
        ]
        multi = MultiSourceConfig(
            sources=["src00", "src01"],
            entities=[EntityConfig("customer_all", "customer",
                                   ["c_custkey"], [])])
        return srcs, multi


class BulkNarrow(PipelineWorkload):
    """Data plane, sized to the time budget: one serial source over the
    largest table, which gains a column on day 1 (schema drift)."""

    name = "bulk_narrow"
    rows = 30_000
    delta = gen.DeltaSpec(change=0.03, new=0.01, retire=0.005, drift_day=1,
                          drift_table="lineitem")

    def tables(self):
        return [gen.TableSpec("lineitem", "lineitem", self.rows)]

    def sources(self):
        from airflow_etl_spark.pipeline import EntityConfig, SourceConfig

        return [SourceConfig("erp_lines", ["lineitem"], [EntityConfig(
            "lineitem", "lineitem", gen.KEYS["lineitem"],
            gen.MUTABLE["lineitem"] + ["l_tax", "l_returnflag"],
            domain="02_Sales")])], None


class Tiny(BulkNarrow):
    """Harness self-test size (perfbench/selftest.py)."""

    name = "tiny"
    rows = 400


WORKLOADS = {w.name: w for w in (DailyWide, BulkNarrow, Tiny)}


def traced(tracer, name: str, layer: str, group: str | None = None):
    """A tracer span when tracing, else a no-op context."""
    if tracer is None:
        return contextlib.nullcontext()
    return tracer.span(name, layer, group=group)


# -------------------------------------------------------------- metrics --
END_TO_END = [
    ("setup_s", "s"), ("run_s", "s"), ("load_initial_s", "s"),
    ("load_incremental_s", "s"),
    ("rows_per_s", "rows/s"), ("files_end", "count"),
    ("space_amp", "ratio"), ("peak_rss_mb", "MB"),
]


def e2e_metrics(w, reps, setup_s, layout, inputs, rss) -> dict:
    med = lambda k: statistics.median(r[k] for r in reps)  # noqa: E731
    incr = [x for r in reps for x in r["load_s"][1:]]
    rows_in = w.staged_rows(inputs)
    load_s = statistics.median(sum(r["load_s"]) for r in reps)
    vals = {
        "setup_s": setup_s,
        "run_s": med("run_s"),
        "load_initial_s": statistics.median(r["load_s"][0] for r in reps),
        "load_incremental_s": statistics.median(incr),
        "rows_per_s": rows_in / load_s,
        "files_end": layout["files_end"],
        "space_amp": layout["disk_bytes"] / max(1, layout["live_bytes"]),
        "peak_rss_mb": rss,
    }
    return {k: {"value": vals[k], "unit": u} for k, u in END_TO_END}


def layer_metrics(tracer, jobs: dict, rep: dict, wh: str, cores: int,
                  check: dict) -> dict:
    import spans as tr
    from airflow_etl_spark.sources import txn

    spans = tracer.spans
    self_t = tr.self_times(spans)
    c = tracer.counters
    m: dict[str, tuple[float, str]] = {}

    def total(layer, names=None):
        return sum(s.t1 - s.t0 for s in tr.outermost(spans, layer)
                   if names is None or s.name in names)

    def self_of(layer):
        return sum(self_t.get(s.sid, 0.0) for s in spans if s.layer == layer)

    tasks = sorted(tracer.samples.get("workflow.task_s", []))
    q = (statistics.quantiles(tasks, n=100) if len(tasks) >= 2
         else tasks * 99 or [0.0] * 99)
    m["workflow.tasks"] = (len(tasks), "count")
    m["workflow.task_p50_s"] = (q[49], "s")
    m["workflow.task_p99_s"] = (q[98], "s")
    m["workflow.self_s"] = (self_of("workflow"), "s")

    led = tr.outermost(spans, "ledger")
    pick = lambda names: sum(s.t1 - s.t0 for s in led  # noqa: E731
                             if s.name.split(".", 1)[1] in names)
    ledger_dir = os.path.join(wh, "operational_metadata")
    lfiles = lbytes = 0
    for x in live_tables(wh):
        if x.startswith(ledger_dir):
            lfiles += len(txn.data_files(x))
            lbytes += os.path.getsize(os.path.join(
                x, "_manifests", txn._read_pointer(x) + ".json"))
    m["ledger.ops"] = (len(led), "count")
    m["ledger.append_s"] = (pick(tr.LEDGER_APPEND), "s")
    m["ledger.read_s"] = (pick(tr.LEDGER_READ), "s")
    m["ledger.date_s"] = (pick(tr.LEDGER_DATE), "s")
    m["ledger.lock_wait_s"] = (c["ledger.lock_wait_s"]
                               + c["ledger.table_lock_wait_s"], "s")
    m["ledger.files_end"] = (lfiles, "count")
    m["ledger.manifest_bytes_end"] = (lbytes, "bytes")

    m["pipeline.stage_s"] = (total("pipeline.stage"), "s")
    m["pipeline.stage_rows"] = (c["rows_written.staging.initial"]
                                + c["rows_written.staging.incremental"],
                                "rows")
    m["pipeline.drift_s"] = (total("pipeline.drift"), "s")
    m["pipeline.drift_lock_wait_s"] = (
        c["pipeline.drift_lock_wait_s"] + c["pipeline.drift.table_lock_wait_s"],
        "s")
    m["pipeline.check_records_s"] = (
        total("pipeline.checks", {"check_records"}), "s")
    m["pipeline.check_content_s"] = (
        total("pipeline.checks", {"check_content"}), "s")

    vs = tr.outermost(spans, "vault")
    vt = lambda names: sum(s.t1 - s.t0 for s in vs  # noqa: E731
                           if s.name in names)
    changed = check.get("sat_rows_changed", 0)
    rewritten = c["rows_written.satellite.incremental"]
    m["vault.entity_s"] = (vt({"vault.load_entity"}), "s")
    m["vault.link_s"] = (vt({"vault.load_link"}), "s")
    m["vault.multi_s"] = (vt({"vault.load_multi_entity",
                              "vault.load_multi_link"}), "s")
    m["vault.hub_rows_added"] = (c["rows_written.hub.incremental"], "rows")
    m["vault.sat_rows_changed"] = (changed, "rows")
    m["vault.sat_rows_rewritten"] = (rewritten, "rows")
    m["vault.sat_buckets_rewritten"] = (
        c["vault.sat_buckets_rewritten.incremental"], "count")
    m["vault.sat_rewrite_ratio"] = (changed / rewritten if rewritten else 0.0,
                                    "ratio")

    writes = [s for s in tr.outermost(spans, "txn")
              if s.name.split(".", 1)[1] in tr.TXN_WRITES]
    m["txn.writes"] = (c["txn.writes"], "count")
    m["txn.write_s"] = (sum(s.t1 - s.t0 for s in writes), "s")
    m["txn.lock_wait_s"] = (c["txn.lock_wait_s"], "s")
    m["txn.lock_hold_s"] = (c["txn.lock_hold_s"], "s")
    m["txn.files_written"] = (c["txn.files_written"], "count")
    m["txn.bytes_written"] = (c["txn.bytes_written"], "bytes")

    m["housekeeping.compact_s"] = (rep["compact_s"], "s")
    m["housekeeping.tables"] = (rep["hk_tables"], "count")
    m["housekeeping.files_before"] = (rep["files_before"], "count")
    m["housekeeping.files_after"] = (rep["files_after"], "count")
    m["housekeeping.bytes_rewritten"] = (
        c["txn.bytes_written.housekeeping"], "bytes")
    m["housekeeping.gc_s"] = (rep["gc_s"], "s")
    m["housekeeping.orphans_deleted"] = (rep["orphans_deleted"], "count")
    m["report.s"] = (rep["report_s"], "s")
    m["scan.s"] = (rep["scan_s"], "s")

    for layer in tr.JOB_LAYERS:
        j = jobs.get(layer, {})
        for k, unit in (("jobs", "count"), ("tasks", "count"),
                        ("exec_run_s", "s"), ("exec_cpu_s", "s"),
                        ("shuffle_bytes", "bytes")):
            if k != "shuffle_bytes" or layer in SHUFFLE_LAYERS:
                m[f"{layer}.{k}"] = (j.get(k, 0.0), unit)
    run_total = sum(j.get("exec_run_s", 0.0) for j in jobs.values())
    m["spark.core_util"] = (run_total / (rep["run_s"] * cores), "ratio")
    m["trace.run_s"] = (rep["run_s"], "s")
    m["trace.attributed_share"] = (
        attributed_s(tracer) / (tracer.root.t1 - tracer.root.t0), "ratio")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def attributed_s(tracer) -> float:
    """Sum of the leaf layers' self times over the traced body. On a serial
    workload the rest of the body is unattributed; with a worker pool the
    sum can exceed the wall time."""
    import spans as tr

    self_t = tr.self_times(tracer.spans)
    return sum(self_t.get(s.sid, 0.0) for s in tracer.spans
               if s.layer in LEAF_LAYERS)


# ----------------------------------------------------------------- main --
def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true",
                    help="keep the run's work dir (inputs + warehouse)")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    import airflow_etl_spark  # noqa: F401  (fails fast outside a checkout)
    import bench

    nproc, cores = host_cores()
    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem()
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    w = WORKLOADS[args.workload]()
    steal0 = steal_snapshot()
    try:
        return _run(args, w, work, nproc, cores, bench, steal0)
    finally:
        if not args.keep:
            shutil.rmtree(work, ignore_errors=True)


def _run(args, w, work, nproc, cores, bench, steal0) -> int:
    # set-up: session (launches the JVM), inputs, warm-up
    t0 = _now()
    spark = session(cores)
    jvm_launch_s = _now() - t0
    inputs = w.generate(args.seed, os.path.join(work, "in"))
    w.warmup(spark, inputs)
    setup_s = _now() - t0
    log(f"setup {setup_s:.2f}s (JVM launch {jvm_launch_s:.2f}s)")

    tracer = None
    if args.trace:
        import spans as tr

        tracer = tr.Tracer(spark)
        tr.install(tracer)
        tracer.root = tracer.begin("run", "bench")
    t_epoch0 = time.time() * 1000
    reps, t_start = [], _now()
    while True:
        wh = os.path.join(work, f"wh{len(reps)}")
        reps.append(w.body(spark, inputs, wh, tracer))
        log(f"{w.name} rep {len(reps)}: "
            + ", ".join(f"{k}={v:.2f}" for k, v in reps[-1].items()
                        if isinstance(v, float))
            + f", load_s={[round(x, 2) for x in reps[-1]['load_s']]}")
        if _now() - t_start >= args.seconds:
            break
        shutil.rmtree(wh, ignore_errors=True)
    t_epoch1 = time.time() * 1000
    if tracer:
        tracer.finish()
        tracer.end(tracer.root)

    # correctness and layout, untimed, on the last rep's warehouse
    check = w.check(inputs, wh)
    layout = w.measure_layout(wh)
    rep = reps[-1]
    attempted = sum(r["tasks"] for r in reps) + len(check["vault"]) + 1
    failed = (sum(r["tasks_failed"] for r in reps)
              + sum(not v["ok"] for v in check["vault"].values())
              + (not check["ledger"]["ok"]))
    check["sat_rows_changed"] = _sat_changes(wh, w)

    log("checks done")
    canary = bench._jvm_canary(spark)
    steal1 = steal_snapshot()
    steal = None
    if steal0 and steal1 and steal1[1] > steal0[1]:
        steal = 100.0 * (steal1[0] - steal0[0]) / (steal1[1] - steal0[1])
    context = {
        "workload": w.name, "seed": args.seed, "trace": args.trace,
        "nproc": nproc, "cores_used": cores,
        "max_workers": w.max_workers,
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "spark_local_dirs": os.environ.get("SPARK_LOCAL_DIRS"),
        "cpu_steal_pct": steal, "jvm_canary_s": canary,
        "jvm_canary_ratio": canary / bench.JVM_CANARY_REF_S,
        "jvm_launch_s": jvm_launch_s,
        "reps": len(reps), "incremental_samples": sum(
            len(r["load_s"]) - 1 for r in reps),
        "input_rows": inputs.rows, "deltas": inputs.deltas,
        "failed_ratio": failed / attempted,
        "check": check,
        "work_dir": work if args.keep else None,
    }
    if tracer:
        import spans as tr

        jobs = tr.job_stats(spark, t_epoch0, t_epoch1)
        metrics = layer_metrics(tracer, jobs, rep, wh, cores, check)
        context["jobs_by_group"] = jobs
        context["unattributed_s"] = (tracer.root.t1 - tracer.root.t0
                                     - attributed_s(tracer))
        _dump_spans(tracer, w.name, args.seed)
    else:
        metrics = e2e_metrics(w, reps, setup_s, layout, inputs,
                              peak_rss_mb(spark))
    log("metrics done")
    stop_jvm(spark)
    log("jvm stopped")

    correct = failed == 0
    os.makedirs(RESULTS, exist_ok=True)
    result = {"correct": correct, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    with open(os.path.join(
            RESULTS, f"{w.name}-trace{args.trace}-seed{args.seed}.json"),
            "w") as f:
        json.dump({"result": result, "context": context, "reps": reps}, f,
                  indent=1, default=str)
    for k, v in metrics.items():
        print(f"{k:40s} {v['value']:>16.4f} {v['unit']}")
    print(json.dumps({"context": context}, default=str))
    print(json.dumps(result))
    return 0


def _sat_changes(wh: str, w) -> int:
    """Satellite rows opened or closed on an incremental date."""
    incr = set(DATES[1: w.n_days])
    n = 0
    rv = os.path.join(wh, "raw_vault")
    for t in sorted(os.listdir(rv)):
        if t.startswith("satellite_"):
            tb = replay.read_live(os.path.join(rv, t),
                                  ["load_date", "load_end_date"])
            n += sum(d in incr for d in tb.column("load_date").to_pylist())
            n += sum(d in incr for d in tb.column("load_end_date").to_pylist())
    return n


def _dump_spans(tracer, name: str, seed: int) -> None:
    os.makedirs(RESULTS, exist_ok=True)
    with open(os.path.join(RESULTS, f"{name}-spans-seed{seed}.jsonl"),
              "w") as f:
        for s in tracer.spans:
            f.write(json.dumps(s.__dict__) + "\n")


if __name__ == "__main__":
    sys.exit(main())
