"""Run ledger — the engine's state machine over tables (SURVEY.md §1.1).

The reference drives everything off three Trino control tables
(`etl_dates`, `info_etlpipeline_by_sources`, `status_etlpipeline_task_airflow`
— utlis/etl_manager.py:24-26) plus Airflow's metadata DB. Here they are
parquet-backed tables under a warehouse dir, with the same schemas
(FIXTURES.md §1) and the same protocol:

- `next_etl_date`: the business-date queue query — earliest non-holiday date
  with NULL status (utlis/etl_manager.py:43-70).
- `start_run` / `finish_run`: the run_id protocol (mint uuid, insert
  'running' row; flip to success/failed — :271-301, :195-216).
- `save_task_status`: per-task ledger rows (:104-164).
- `latest_status_per_source`: the signature ROW_NUMBER dedup (:228-237).
- `has_succeeded`: resume-skip check (`check_conditions`, :435-468).

Control tables are tiny, so the protocol runs driver-side with ZERO Spark
jobs: appends go through `txn.append_rows`, lookups (`next_etl_date`,
`successful_tasks`, `has_succeeded`, `all_sources_green`) filter the rows
`txn.read_rows` returns, and the date queue's read-modify-writes
(`claim_next_date`, `mark_date`) publish with the locked
`txn._overwrite_rows_locked` while holding the table flock. Through Spark
each of these cost a job's scheduling latency (~0.3-2 s on a 4-core
host); on pyarrow they cost milliseconds with the same atomicity. `read()` and
`latest_status_per_source()` still return DataFrames for the report and
housekeeping roll-ups (the data plane never collects).
"""

from __future__ import annotations

import os
import threading
import uuid
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession, functions as F

from .operators.core import latest_per_key

ETL_DATES_SCHEMA = (
    "etl_date string, holiday_flag int, status string, current_date_flag int"
)
INFO_SCHEMA = (
    "run_id string, source_name string, etl_date string, status string, "
    "created_at timestamp, created_by string"
)
STATUS_SCHEMA = (
    "run_id string, source_name string, dag_id string, task_id string, "
    "status string, etl_date string, created_at timestamp, created_by string"
)
CHECKPOINT_SCHEMA = (
    "run_id string, name string, schema_name string, source_name string, "
    "status string, etl_date string, created_at timestamp"
)


def _now() -> datetime:
    return datetime.now(timezone.utc).replace(tzinfo=None)


def arrow_table(rows: list[tuple], schema: str):
    """Build a pyarrow Table matching a Spark DDL schema string — the
    driver-side fast-append representation. Timestamps become
    timestamp[us, UTC] so Spark reads them as TIMESTAMP (LTZ), type-
    compatible with Spark-written files in the same table; naive
    datetimes from _now() are already UTC instants."""
    import pyarrow as pa

    type_map = {
        "string": pa.string(),
        "int": pa.int32(),
        "long": pa.int64(),
        "timestamp": pa.timestamp("us", tz="UTC"),
        "double": pa.float64(),
    }
    fields = []
    for part in schema.split(","):
        name, typ = part.strip().rsplit(" ", 1)
        fields.append(pa.field(name, type_map[typ]))
    cols = list(zip(*rows)) if rows else [[] for _ in fields]
    arrays = [
        pa.array(list(col), type=f.type) for col, f in zip(cols, fields)
    ]
    return pa.Table.from_arrays(arrays, schema=pa.schema(fields))


class Ledger:
    """Parquet-backed control tables under `warehouse_dir`."""

    def __init__(self, spark: SparkSession, warehouse_dir: str):
        self.spark = spark
        self.dir = warehouse_dir
        os.makedirs(warehouse_dir, exist_ok=True)
        # Control-table writes serialize twice over: this in-process lock
        # keeps the per-source thread fan-out (C2) orderly, and txn's
        # per-table flock serializes ACROSS processes (two drivers on one
        # warehouse). The reference gets both from Trino/Iceberg
        # transactions. Data-plane writes never take either.
        self._lock = threading.Lock()

    # -- storage helpers ---------------------------------------------------
    def _path(self, table: str) -> str:
        return os.path.join(self.dir, table)

    def read(self, table: str, schema: str) -> DataFrame:
        """A control table as a DataFrame (empty with `schema` when absent)
        for the report and housekeeping roll-ups. Built from the
        driver-side rows, so even a many-file ledger table launches no
        Spark file-listing job."""
        from .sources import txn

        try:
            return self.spark.createDataFrame(txn.read_rows(self._path(table)))
        except FileNotFoundError:
            return self.spark.createDataFrame([], schema)

    def append(self, table: str, df: DataFrame) -> None:
        from .sources import txn

        with self._lock:
            # atomic single-file append: a crash never tears a row batch
            txn.append(df, self._path(table))

    def append_rows(self, table: str, rows: list[tuple], schema: str) -> None:
        """Driver-side atomic append — no Spark job. The ledger writes a
        handful of 1-row batches per task; through Spark each costs ~2s of
        job latency (measured), through pyarrow + atomic rename it's
        milliseconds with identical durability. Control tables only."""
        from .sources import txn

        with self._lock:
            txn.append_rows(self._path(table), arrow_table(rows, schema))

    def overwrite(self, table: str, rows: list[tuple], schema: str) -> None:
        """Driver-side atomic replacement of a control table's rows — no
        Spark job (txn.overwrite_rows)."""
        from .sources import txn

        with self._lock:
            txn.overwrite_rows(self._path(table), arrow_table(rows, schema))

    def rows(self, table: str) -> list[dict]:
        """A control table's live rows as dicts ([] when absent) — the
        driver-side read (txn.read_rows, no Spark job) every lookup below
        filters."""
        from .sources import txn

        try:
            return txn.read_rows(self._path(table)).to_pylist()
        except FileNotFoundError:
            return []

    # -- etl_dates queue ---------------------------------------------------
    def seed_dates(self, dates: list[tuple]) -> None:
        """Seed the date queue: rows (etl_date, holiday_flag, status,
        current_date_flag)."""
        self.overwrite("etl_dates", dates, ETL_DATES_SCHEMA)

    def next_etl_date(self) -> str | None:
        """Earliest non-holiday, not-yet-processed date
        (utlis/etl_manager.py:48-53: WHERE holiday_flag = 0 AND status IS
        NULL ORDER BY etl_date LIMIT 1)."""
        return _next_open(self.rows("etl_dates"))

    def claim_next_date(self) -> str | None:
        """Atomically pick the next unprocessed date AND mark it 'running'
        under the table flock — two concurrent driver processes draining
        the same queue cannot claim the same date (the reference gets this
        from Airflow's single scheduler; two Pipelines on one warehouse
        need it from the ledger)."""
        from .sources import txn

        path = self._path("etl_dates")
        with self._lock, txn.table_lock(path):
            try:
                tbl = txn.read_rows(path)
            except FileNotFoundError:
                return None
            etl_date = _next_open(tbl.to_pylist())
            if etl_date is None:
                return None
            # keep_versions=4 on hot control tables: claim/mark commits can
            # land in quick succession from a second driver, and a reader
            # pinned to an older manifest must still find its files
            txn._overwrite_rows_locked(
                path, _with_date_status(tbl, etl_date, "running"),
                keep_versions=4,
            )
            return etl_date

    def mark_date(self, etl_date: str, status: str) -> None:
        """UPDATE etl_dates SET status, current_date_flag
        (utlis/etl_manager.py:319-337).

        The whole read→edit→publish holds the table flock: two driver
        PROCESSES marking different dates would otherwise interleave
        read-modify-writes and one update would vanish (the publish itself
        is atomic either way — this serializes the read against it)."""
        from .sources import txn

        path = self._path("etl_dates")
        with self._lock, txn.table_lock(path):
            try:
                tbl = txn.read_rows(path)
            except FileNotFoundError:
                tbl = arrow_table([], ETL_DATES_SCHEMA)
            txn._overwrite_rows_locked(
                path, _with_date_status(tbl, etl_date, status),
                keep_versions=4,
            )

    # -- run protocol ------------------------------------------------------
    def start_run(
        self, source_name: str, etl_date: str, created_by: str = "master",
        run_id: str | None = None,
    ) -> str:
        """fetch_run_id semantics (utlis/etl_manager.py:271-301): reuse the
        given run_id (triggered-by-group path) or mint a uuid; insert a
        'running' row either way."""
        rid = run_id or str(uuid.uuid4())
        row = [(rid, source_name, etl_date, "running", _now(), created_by)]
        self.append_rows("info_by_sources", row, INFO_SCHEMA)
        return rid

    def finish_run(self, run_id: str, source_name: str, etl_date: str,
                   status: str, created_by: str = "master") -> None:
        """The reference UPDATEs the info row (:195-199); append-only ledgers
        record a terminal row instead — latest_status_per_source() resolves
        current state, matching the reference's read pattern."""
        row = [(run_id, source_name, etl_date, status, _now(), created_by)]
        self.append_rows("info_by_sources", row, INFO_SCHEMA)

    def save_task_status(
        self, run_id: str, source_name: str, dag_id: str, task_id: str,
        status: str, etl_date: str, created_by: str = "engine",
    ) -> None:
        row = [(run_id, source_name, dag_id, task_id, status, etl_date, _now(), created_by)]
        self.append_rows("status_tasks", row, STATUS_SCHEMA)

    def save_checkpoint(
        self, run_id: str, name: str, schema_name: str, source_name: str,
        status: str, etl_date: str,
    ) -> None:
        """Per-model checkpoint row (`checkpoint_etlpipeline_dbt_metadata`,
        utlis/send_email.py:403,430-434): one row per staged table / vault
        model load, feeding the completion-report roll-ups."""
        row = [(run_id, name, schema_name, source_name, status, etl_date, _now())]
        self.append_rows("checkpoints", row, CHECKPOINT_SCHEMA)

    # -- queries -----------------------------------------------------------
    def latest_status_per_source(self, etl_date: str) -> DataFrame:
        """The signature dedup (utlis/etl_manager.py:228-237)."""
        df = self.read("info_by_sources", INFO_SCHEMA).filter(
            (F.col("etl_date") == etl_date)
            & F.col("created_by").isin("master", "group")
        )
        return latest_per_key(
            df, ["source_name"], "created_at", tie_breakers=["run_id"]
        ).select("source_name", "status", "etl_date")

    def has_succeeded(
        self, source_name: str, task_id: str, etl_date: str,
        dag_id: str | None = None,
    ) -> bool:
        """Resume-skip check (`check_conditions`, utlis/etl_manager.py:435-468):
        any success row for this (source, task, date) — scoped to the DAG
        when given (the reference's query filters on the dag-id pattern at
        :441-449; without the scope, same-named tasks in sibling DAGs
        poison each other's resume checks)."""
        return any(
            r["source_name"] == source_name
            and r["task_id"] == task_id
            and r["etl_date"] == etl_date
            and r["status"] == "success"
            and (dag_id is None or r["dag_id"] == dag_id)
            for r in self.rows("status_tasks")
        )

    def successful_tasks(
        self, source_name: str, etl_date: str, dag_id: str
    ) -> set[str]:
        """All task_ids with a success row for (source, dag, date) — ONE
        ledger read per DAG run instead of one `has_succeeded` per task.
        Safe as a run-start snapshot: a task never runs twice within one
        DAG run, so successes written during the run can't affect its own
        resume-skips."""
        return {
            r["task_id"]
            for r in self.rows("status_tasks")
            if r["source_name"] == source_name
            and r["etl_date"] == etl_date
            and r["dag_id"] == dag_id
            and r["status"] == "success"
        }

    def all_sources_green(self, etl_date: str) -> bool:
        """update_status_etl all-success gate (:219-268): every source's
        latest master/group row for the date (`latest_status_per_source`'s
        pick: created_at DESC, then run_id DESC, NULLs last) is success or
        skipped. A NULL latest status is not green."""
        latest: dict = {}
        for r in self.rows("info_by_sources"):
            if r["etl_date"] != etl_date or r["created_by"] not in ("master", "group"):
                continue
            cur = latest.get(r["source_name"])
            if cur is None or _recency(r) > _recency(cur):
                latest[r["source_name"]] = r
        return bool(latest) and all(
            r["status"] in ("success", "skipped") for r in latest.values()
        )


def _next_open(rows: list[dict]) -> str | None:
    """The date-queue pick over etl_dates rows: min etl_date with
    holiday_flag = 0 and status NULL."""
    open_dates = [
        r["etl_date"] for r in rows
        if r["holiday_flag"] == 0 and r["status"] is None
        and r["etl_date"] is not None
    ]
    return min(open_dates) if open_dates else None


def _with_date_status(tbl, etl_date: str, status: str):
    """The etl_dates table `tbl` with `etl_date` set to `status` and made
    the one current date (current_date_flag 1 there, 0 elsewhere)."""
    import pyarrow as pa

    rows = tbl.to_pylist()
    for r in rows:
        hit = r["etl_date"] == etl_date
        if hit:
            r["status"] = status
        r["current_date_flag"] = int(hit)
    return pa.Table.from_pylist(rows, schema=tbl.schema)


def _recency(r: dict) -> tuple:
    """Sort key of latest_per_key(created_at, tie_breakers=[run_id]) with
    DESC NULLS LAST: larger is more recent."""
    return (
        r["created_at"] is not None, r["created_at"],
        r["run_id"] is not None, r["run_id"],
    )
