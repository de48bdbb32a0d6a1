"""Span tracing of the package's layers, attached from outside at run time.

`install(tracer)` wraps the public entry points of `workflow`, `ledger`,
`pipeline`, `sources.txn`, `housekeeping`, `operators.maintenance` and
`report` in place (module attributes and class methods), so the package
code is untouched. Each wrapper records a span — name, layer, trace id,
parent, start, end — in memory; the benchmark writes them out when the run
ends. Wrappers of the layers that launch Spark jobs also set the thread's
Spark job group to the layer name, so the JVM status store can attribute
jobs, tasks, executor time, shuffle and spill per layer.

Three measurements need more than a call boundary:

- A function that returns a lazy DataFrame (`Pipeline.check_records`,
  `Pipeline.check_content`) runs its Spark jobs in the caller. Its span
  is left open and its job group stays set until the next traced boundary
  on the same thread, which covers the caller's action.
- Lock wait and hold come from a wrapper of `txn.table_lock`; the
  in-process locks of `Ledger` and `Pipeline` are swapped for timed locks
  when an instance is built.
- Files and bytes written come from `txn._publish`, the one call every
  txn writer ends in: entries without a sequence number are the new ones.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import os
import threading
import time
from collections import defaultdict
from dataclasses import dataclass

_now = time.perf_counter


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    trace_id: str
    parent: int | None
    thread: str
    t0: float
    t1: float | None = None


class Tracer:
    """In-memory span and counter store. Thread-safe."""

    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[Span] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.samples: dict[str, list[float]] = defaultdict(list)
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._tls = threading.local()
        self.root: Span | None = None
        # spans a pool thread opens on an empty stack nest under the main
        # thread's innermost open span (the call that fanned out)
        self._main_stack: list[Span] = []
        self.trace_id = "run"
        self.phase = "setup"  # setup | initial | incremental | post

    # ------------------------------------------------------------ state --
    def _stack(self) -> list[Span]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
            self._tls.groups = []
            self._tls.pending = None
            if threading.current_thread() is threading.main_thread():
                self._main_stack = st
        return st

    def add(self, key: str, value: float) -> None:
        with self._lock:
            self.counters[key] += value

    def sample(self, key: str, value: float) -> None:
        with self._lock:
            self.samples[key].append(value)

    def current_layer(self, skip: tuple[str, ...] = ("txn",)) -> str | None:
        """Innermost layer on this thread's stack, ignoring `skip`."""
        for sp in reversed(self._stack()):
            if sp.layer not in skip:
                return sp.layer
        return None

    def _close_pending(self, t: float) -> None:
        p = getattr(self._tls, "pending", None)
        if p is not None:
            span, had_group = p
            span.t1 = t
            self._tls.pending = None
            if had_group:
                self._pop_group()

    # ------------------------------------------------------- job groups --
    def _push_group(self, group: str) -> None:
        self._stack()
        self._tls.groups.append(group)
        if self.spark is not None:
            self.spark.sparkContext.setJobGroup(group, group)

    def _pop_group(self) -> None:
        self._tls.groups.pop()
        if self.spark is not None:
            sc = self.spark.sparkContext
            if self._tls.groups:
                g = self._tls.groups[-1]
                sc.setJobGroup(g, g)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    # ------------------------------------------------------------ spans --
    def begin(self, name: str, layer: str, trace_id: str | None = None,
              group: str | None = None) -> Span:
        t = _now()
        self._close_pending(t)
        st = self._stack()
        try:
            parent = st[-1] if st else self._main_stack[-1]
        except IndexError:
            parent = self.root
        sp = Span(next(self._ids), name, layer,
                  trace_id or (parent.trace_id if parent else self.trace_id),
                  parent.sid if parent else None,
                  threading.current_thread().name, t)
        with self._lock:
            self.spans.append(sp)
        st.append(sp)
        if group:
            self._push_group(group)
        return sp

    def end(self, sp: Span, group: str | None = None,
            lazy: bool = False) -> None:
        t = _now()
        st = self._stack()
        if not lazy:
            self._close_pending(t)
        st.pop()
        if lazy:
            self._close_pending(t)
            self._tls.pending = (sp, bool(group))
            return
        sp.t1 = t
        if group:
            self._pop_group()

    @contextlib.contextmanager
    def span(self, name: str, layer: str, trace_id: str | None = None,
             group: str | None = None):
        sp = self.begin(name, layer, trace_id, group)
        try:
            yield sp
        finally:
            self.end(sp, group)

    def finish(self) -> None:
        """Close every open lazy span (end of the traced body)."""
        self._close_pending(_now())

    # ---------------------------------------------------------- wrapping --
    def wrap(self, owner, attr: str, layer: str, name: str | None = None,
             group: str | None = None, lazy: bool = False,
             trace_of=None) -> None:
        fn = getattr(owner, attr)
        if getattr(fn, "__traced__", False):
            return
        label = name or attr
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            tid = trace_of(args, kwargs) if trace_of else None
            sp = tracer.begin(label, layer, tid, group)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.end(sp, group, lazy=lazy)

        traced.__traced__ = True
        setattr(owner, attr, traced)


class TimedLock:
    """threading.Lock stand-in that books acquire wait under `key`."""

    def __init__(self, tracer: Tracer, key: str):
        self._lock = threading.Lock()
        self._tracer = tracer
        self._key = key

    def acquire(self, blocking: bool = True, timeout: float = -1) -> bool:
        t0 = _now()
        ok = self._lock.acquire(blocking, timeout)
        self._tracer.add(self._key, _now() - t0)
        return ok

    def release(self) -> None:
        self._lock.release()

    def locked(self) -> bool:
        return self._lock.locked()

    __enter__ = acquire

    def __exit__(self, *exc) -> None:
        self.release()


# Ledger methods by kind (the ledger.* metrics)
LEDGER_APPEND = ("append", "append_rows", "overwrite", "start_run",
                 "finish_run", "save_task_status", "save_checkpoint")
LEDGER_READ = ("read", "next_etl_date", "latest_status_per_source",
               "has_succeeded", "successful_tasks", "all_sources_green")
LEDGER_DATE = ("seed_dates", "claim_next_date", "mark_date")
TXN_WRITES = ("commit", "append_files", "delete_keys", "upsert_mor", "append",
              "replace_partitions", "repartition_table", "append_rows",
              "delete_keys_rows", "upsert_rows", "commit_many",
              "delete_keys_many", "commit_staged", "append_staged",
              "delete_keys_staged", "delete_positions",
              "delete_where_positional", "delete_duplicate_positions")
TXN_READS = ("read", "read_version", "read_partitions", "read_range",
             "read_point", "read_asof")
#: layers whose spans own a Spark job group
JOB_LAYERS = ("pipeline.stage", "pipeline.drift", "pipeline.checks", "vault",
              "ledger", "housekeeping", "report", "scan")


def install(tracer: Tracer) -> None:
    """Wrap the package's public functions with spans (idempotent)."""
    from airflow_etl_spark import housekeeping, ledger, pipeline, report
    from airflow_etl_spark import workflow
    from airflow_etl_spark.operators import maintenance
    from airflow_etl_spark.sources import txn

    t = tracer

    def date_src(args, kwargs):
        # DagRunner.run(self, ledger, source_name, etl_date, ...)
        src = args[2] if len(args) > 2 else kwargs.get("source_name")
        day = args[3] if len(args) > 3 else kwargs.get("etl_date")
        return f"{day}/{src}"

    # workflow: the DAG run, and every task callable a DagRunner is built
    # with (Task.fn is public; the runner invokes it for each attempt)
    t.wrap(workflow.DagRunner, "run", "workflow", "dag.run",
           trace_of=date_src)

    def wrap_tasks(runner):
        for task in runner.tasks.values():
            if task.fn is not None:
                task.fn = _task_wrapper(t, task.task_id, task.fn)

    _wrap_init(workflow.DagRunner, wrap_tasks)

    # ledger: every public method, with its in-process lock timed
    for m in LEDGER_APPEND + LEDGER_READ + LEDGER_DATE:
        t.wrap(ledger.Ledger, m, "ledger", f"ledger.{m}", group="ledger")
    _wrap_init(ledger.Ledger, lambda self: setattr(
        self, "_lock", TimedLock(t, "ledger.lock_wait_s")))

    # pipeline: staging, drift, checks; the vault loads are Pipeline methods
    P = pipeline.Pipeline
    t.wrap(P, "run", "pipeline", "pipeline.run")
    t.wrap(P, "stage_table", "pipeline.stage", group="pipeline.stage")
    t.wrap(P, "drift_check", "pipeline.drift", group="pipeline.drift")
    t.wrap(P, "check_records", "pipeline.checks", group="pipeline.checks",
           lazy=True)
    t.wrap(P, "check_content", "pipeline.checks", group="pipeline.checks",
           lazy=True)
    for m in ("load_entity", "load_link", "load_multi_entity",
              "load_multi_link"):
        t.wrap(P, m, "vault", f"vault.{m}", group="vault")
    _wrap_init(P, lambda self: setattr(
        self, "_drift_lock", TimedLock(t, "pipeline.drift_lock_wait_s")))

    # txn: writers, readers, the table lock and the publish choke point
    for m in TXN_WRITES:
        t.wrap(txn, m, "txn", f"txn.{m}")
    for m in TXN_READS:
        t.wrap(txn, m, "txn", f"txn.{m}")
    _wrap_table_lock(t, txn)
    _wrap_publish(t, txn)

    # housekeeping and maintenance
    for m in ("compact", "rewrite_small_files", "orphan_files",
              "retention_plan", "expire_snapshots",
              "compact_if_delete_pressure"):
        t.wrap(maintenance, m, "housekeeping", f"maintenance.{m}",
               group="housekeeping")
    for m in ("data_housekeeping_dag", "unused_file_dag",
              "metadata_housekeeping_dag", "mor_maintenance_dag"):
        t.wrap(housekeeping, m, "housekeeping", f"housekeeping.{m}")

    # report: roll-ups return lazy frames, renders are eager
    for m in ("checkpoint_rollup", "rollup_totals", "error_details",
              "error_counts", "to_html_table", "render_template",
              "email_rows"):
        t.wrap(report, m, "report", f"report.{m}", group="report")


def _wrap_init(cls, after) -> None:
    orig = cls.__init__
    if getattr(orig, "__traced__", False):
        return

    @functools.wraps(orig)
    def init(self, *a, **kw):
        orig(self, *a, **kw)
        after(self)

    init.__traced__ = True
    cls.__init__ = init


def _task_wrapper(t: Tracer, task_id: str, fn):
    @functools.wraps(fn)
    def run_task(ctx):
        sp = t.begin(f"task.{task_id}", "workflow",
                     f"{ctx.etl_date}/{ctx.source_name}")
        t0 = sp.t0
        try:
            return fn(ctx)
        finally:
            t.end(sp)
            t.sample("workflow.task_s", _now() - t0)

    return run_task


def _wrap_table_lock(t: Tracer, txn) -> None:
    orig = txn.table_lock
    if getattr(orig, "__traced__", False):
        return

    @contextlib.contextmanager
    def table_lock(path, fs=None):
        layer = t.current_layer() or "other"
        t0 = _now()
        with orig(path, fs):
            t1 = _now()
            t.add("txn.lock_wait_s", t1 - t0)
            t.add(f"{layer}.table_lock_wait_s", t1 - t0)
            try:
                yield
            finally:
                t.add("txn.lock_hold_s", _now() - t1)

    table_lock.__traced__ = True
    txn.table_lock = table_lock


def _wrap_publish(t: Tracer, txn) -> None:
    orig = txn._publish
    if getattr(orig, "__traced__", False):
        return

    @functools.wraps(orig)
    def publish(path, entries, *a, **kw):
        new = [e for e in entries if "seq" not in e]
        n_bytes = sum(e.get("bytes", 0) for e in new)
        t.add("txn.writes", 1)
        t.add("txn.files_written", len(new))
        t.add("txn.bytes_written", n_bytes)
        t.add(f"txn.bytes_written.{t.phase}", n_bytes)
        kind = _table_kind(path)
        if kind != "other" and new:
            t.add(f"rows_written.{kind}.{t.phase}", _rows_of(path, new))
            if kind == "satellite":
                parts = {e.get("partition") for e in new}
                t.add(f"vault.sat_buckets_rewritten.{t.phase}", len(parts))
        return orig(path, entries, *a, **kw)

    publish.__traced__ = True
    txn._publish = publish


def _table_kind(path: str) -> str:
    """staging, hub, link, satellite or other, from the table's path."""
    base = os.path.basename(path.rstrip("/"))
    if os.path.basename(os.path.dirname(path.rstrip("/"))) == "staging":
        return "staging"
    for kind in ("hub", "link", "satellite"):
        if base.startswith(kind + "_"):
            return kind
    return "other"


def _rows_of(path: str, entries: list[dict]) -> int:
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(os.path.join(path, e["path"])).num_rows
               for e in entries)


# ----------------------------------------------------------- analysis --
def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the union of its children's intervals (clipped
    to the span)."""
    kids: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    out = {}
    for s in spans:
        if s.t1 is None:
            continue
        ivs = sorted((max(c.t0, s.t0), min(c.t1, s.t1))
                     for c in kids.get(s.sid, ()) if c.t1 is not None)
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in ivs:
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.sid] = (s.t1 - s.t0) - covered
    return out


def outermost(spans: list[Span], layer: str) -> list[Span]:
    """Spans of `layer` with no ancestor in the same layer."""
    by_id = {s.sid: s for s in spans}
    out = []
    for s in spans:
        if s.layer != layer or s.t1 is None:
            continue
        p = by_id.get(s.parent)
        while p is not None and p.layer != layer:
            p = by_id.get(p.parent)
        if p is None:
            out.append(s)
    return out


def job_stats(spark, t0_ms: float, t1_ms: float) -> dict[str, dict]:
    """Per job group: jobs, tasks, executor run/CPU seconds, shuffle and
    spill bytes, over jobs submitted in [t0_ms, t1_ms] (epoch millis).
    Read from the JVM status store, which the UI-less session still
    keeps."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    stats: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    seen_stages: set[int] = set()
    for i in range(jobs.size()):
        jd = jobs.apply(i)
        sub = jd.submissionTime()
        if sub.isEmpty():
            continue
        ts = sub.get().getTime()
        if ts < t0_ms or ts > t1_ms:
            continue
        grp = jd.jobGroup()
        g = grp.get() if grp.isDefined() else "other"
        st = stats[g]
        st["jobs"] += 1
        sids = jd.stageIds()
        for k in range(sids.size()):
            sid = sids.apply(k)
            if sid in seen_stages:
                continue
            seen_stages.add(sid)
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # stage skipped or evicted
                continue
            st["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
            st["exec_run_s"] += sd.executorRunTime() / 1e3
            st["exec_cpu_s"] += sd.executorCpuTime() / 1e9
            st["shuffle_bytes"] += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
            st["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
    return {g: dict(v) for g, v in stats.items()}
