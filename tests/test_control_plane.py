"""Driver-side control plane: `txn.read_rows` / `txn.overwrite_rows`, the
Ledger and the drift check computed over rows, and the guard that none of
them launches a Spark job inside a pipeline run.

Parity with the Spark expressions the ledger used before is checked on a
real two-date pipeline ledger: each driver-side answer must equal the
Spark plan over the same table, computed here in the test.
"""

from __future__ import annotations

import os
import uuid
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from airflow_etl_spark import report
from airflow_etl_spark.ledger import INFO_SCHEMA, STATUS_SCHEMA, Ledger
from airflow_etl_spark.operators.core import first_by, latest_per_key
from airflow_etl_spark.pipeline import EntityConfig, Pipeline, SourceConfig
from airflow_etl_spark.sources import txn

DATES = ["2024-01-01", "2024-01-02"]


# ------------------------------------------------------- txn primitives --
def test_read_rows_applies_manifest_schema_after_merge(spark, tmp_path):
    path = str(tmp_path / "t")
    txn.commit(
        spark.createDataFrame(
            [(1, "a", 7, datetime(2024, 1, 1, 12, tzinfo=timezone.utc))],
            "id long, name string, n int, ts timestamp",
        ).withColumn("amount", F.lit("1.50").cast("decimal(10,2)")),
        path,
    )
    txn.append_files(
        spark.createDataFrame(
            [(2, "b", 8, None, "x@y")],
            "id long, name string, n int, ts timestamp, email string",
        ).withColumn("amount", F.lit(None).cast("decimal(10,2)")),
        path, merge_schema=True,
    )

    got = txn.read_rows(path)
    want = txn.read(spark, path).toArrow()
    assert got.schema.names == want.schema.names
    assert [f.type for f in got.schema] == [f.type for f in want.schema]
    rows = sorted(got.to_pylist(), key=lambda r: r["id"])
    assert rows == sorted(want.to_pylist(), key=lambda r: r["id"])
    assert rows[0]["email"] is None  # pre-merge file reads the new column as NULL
    assert rows[1]["email"] == "x@y"


def test_read_rows_missing_and_legacy_tables(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        txn.read_rows(str(tmp_path / "absent"))

    legacy = str(tmp_path / "legacy")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
    df.write.parquet(legacy)
    got = txn.read_rows(legacy).to_pylist()
    assert sorted((r["id"], r["name"]) for r in got) == [(1, "a"), (2, "b")]


def test_read_rows_refuses_manifest_with_deletes(spark, tmp_path):
    path = str(tmp_path / "t")
    txn.commit(spark.createDataFrame([(1,), (2,)], "id long"), path)
    txn.delete_keys_rows(path, pa.table({"id": pa.array([1], pa.int64())}))
    with pytest.raises(ValueError, match="delete files"):
        txn.read_rows(path)


def test_overwrite_rows_replaces_table_in_one_file(spark, tmp_path):
    path = str(tmp_path / "t")
    txn.commit(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
        .repartition(3),
        path,
    )
    old = txn.live_manifest(path)["version"]
    new = txn.overwrite_rows(
        path, pa.table({"id": pa.array([3], pa.int64()), "name": ["c"]})
    )
    m = txn.live_manifest(path)
    assert m["version"] == new and m["parent"] == old
    assert len(m["files"]) == 1
    assert [tuple(r) for r in txn.read(spark, path).collect()] == [(3, "c")]

    # the locked variant is the read-modify-write form: no re-entry on
    # the table lock its caller already holds
    with txn.table_lock(path):
        t = txn.read_rows(path)
        txn._overwrite_rows_locked(path, pa.concat_tables([t, t]))
    assert txn.read_rows(path).column("id").to_pylist() == [3, 3]

    # a legacy plain dir migrates to the manifest layout
    legacy = str(tmp_path / "legacy")
    spark.createDataFrame([(1,)], "id long").write.parquet(legacy)
    txn.overwrite_rows(legacy, pa.table({"id": pa.array([9], pa.int64())}))
    assert txn.live_manifest(legacy) is not None
    assert txn.read_rows(legacy).column("id").to_pylist() == [9]


def test_delete_keys_staged_releases_its_registry_entry(spark, tmp_path):
    path = str(tmp_path / "t")
    txn.commit(spark.createDataFrame([(1,), (2,), (3,)], "id long"), path)
    staged = txn.stage_delete_keys(
        spark.createDataFrame([(2,)], "id long"), path, ["id"]
    )
    assert set(txn._read_staged(path)) == {staged["tag"]}
    txn.delete_keys_staged(staged, path)
    assert txn._read_staged(path) == {}
    assert sorted(r.id for r in txn.read(spark, path).collect()) == [1, 3]


# ------------------------------------------------------ pipeline ledger --
def _write_day(d: str, rows: list[tuple], with_email: bool) -> None:
    os.makedirs(d, exist_ok=True)
    cols = {
        "id": pa.array([r[0] for r in rows], pa.int64()),
        "name": pa.array([r[1] for r in rows], pa.string()),
    }
    if with_email:
        cols["email"] = pa.array([f"{r[1]}@x" for r in rows], pa.string())
    pq.write_table(pa.table(cols), os.path.join(d, "things.parquet"))


def _grouped(fn, spark, group):
    """`fn` with its Spark jobs tagged `group` (the caller's group comes
    back on exit)."""
    def inner(*a, **kw):
        sc = spark.sparkContext
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(group, group)
        try:
            return fn(*a, **kw)
        finally:
            if prev:
                sc.setJobGroup(prev, prev)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)

    return inner


CONTROL_METHODS = (
    "append", "append_rows", "overwrite", "start_run", "finish_run",
    "save_task_status", "save_checkpoint", "read", "rows", "next_etl_date",
    "latest_status_per_source", "has_succeeded", "successful_tasks",
    "all_sources_green", "seed_dates", "claim_next_date", "mark_date",
)


@pytest.fixture(scope="module")
def two_day(spark, tmp_path_factory):
    """A two-date pipeline (the second date gains a source column, so the
    drift branch runs); the incremental date runs with every Ledger method
    and drift_check tagged with a control-plane job group."""
    root = tmp_path_factory.mktemp("ctl")
    wh = str(root / "wh")
    day0, day1 = str(root / "d0"), str(root / "d1")
    _write_day(day0, [(i, f"n{i}") for i in range(1, 6)], False)
    _write_day(day1, [(1, "n1"), (2, "changed"), (3, "n3"), (4, "n4"), (6, "n6")], True)
    src = SourceConfig(
        name="src", tables=["things"],
        entities=[EntityConfig("thing", "things", ["id"], ["name"])],
    )

    def pipeline(sf_dir):
        return Pipeline(spark, wh, [src], sf_dir, satellite_buckets=4)

    p0 = pipeline(day0)
    p0.ledger.seed_dates([(d, 0, None, 0) for d in DATES])
    assert p0.run() and p0.ledger.next_etl_date() == DATES[1]

    tag = uuid.uuid4().hex[:8]
    ctl, data = f"ctl-{tag}", f"data-{tag}"
    saved = {m: getattr(Ledger, m) for m in CONTROL_METHODS}
    saved_drift = Pipeline.drift_check
    sc = spark.sparkContext
    try:
        for m, fn in saved.items():
            setattr(Ledger, m, _grouped(fn, spark, ctl))
        Pipeline.drift_check = _grouped(saved_drift, spark, ctl)
        sc.setJobGroup(data, data)
        p1 = pipeline(day1)
        results = p1.run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        for m, fn in saved.items():
            setattr(Ledger, m, fn)
        Pipeline.drift_check = saved_drift
    tracker = sc.statusTracker()
    return {
        "wh": wh, "ledger": p1.ledger, "results": results,
        "ctl_jobs": list(tracker.getJobIdsForGroup(ctl)),
        "data_jobs": list(tracker.getJobIdsForGroup(data)),
    }


def test_control_plane_launches_no_spark_jobs(two_day):
    st = two_day["results"]["src"]["staging"]
    assert st["notify_drift"] == "success"  # the drift branch ran
    assert two_day["data_jobs"], "the data plane ran under the data group"
    assert two_day["ctl_jobs"] == []


def test_schemadrift_tables_are_manifest_tables(spark, two_day):
    meta = os.path.join(two_day["wh"], "operational_metadata")
    run_id = [
        r["run_id"] for r in two_day["ledger"].rows("info_by_sources")
        if r["etl_date"] == DATES[1] and r["source_name"] == "src"
    ][0]
    detail = os.path.join(meta, "schemadrift_tablechangedetail")
    flags = os.path.join(meta, "schemadrift_tablechange")
    assert txn.live_manifest(detail) is not None
    assert txn.live_manifest(flags) is not None
    assert [tuple(r.values()) for r in txn.read_rows(detail).to_pylist()] == [
        (run_id, "src__things", "src", "email", "string", "I", DATES[1], DATES[1])
    ]
    assert [tuple(r.values()) for r in txn.read_rows(flags).to_pylist()] == [
        (run_id, "src__things", "src", 1)
    ]
    reg = txn.read_rows(os.path.join(meta, "schema_registry")).to_pylist()
    assert {r["column_name"] for r in reg} == {"id", "name", "email"}
    mails = txn.read_rows(os.path.join(meta, "email_notification")).to_pylist()
    assert [m["event_type"] for m in mails] == ["SCHEMA_DRIFT"]
    assert "<td>email</td>" in mails[0]["email_body"]
    # the driver-side rendering is the Spark-side one, byte for byte
    assert mails[0]["email_body"] == report.to_html_table(
        txn.read(spark, detail).filter(F.col("run_id") == run_id)
        .select("table_name", "column_name", "data_type", "status")
        .orderBy("table_name", "column_name")
    )


def test_ledger_answers_match_spark_expressions(spark, two_day):
    led: Ledger = two_day["ledger"]
    # a created_at tie on each date, broken by run_id DESC: on day 1 the
    # later run_id is green, on day 2 it is not
    tie = datetime(2030, 1, 1, tzinfo=timezone.utc)
    led.append_rows("info_by_sources", [
        ("r-a", "tied", DATES[0], "failed", tie, "group"),
        ("r-b", "tied", DATES[0], "success", tie, "group"),
        ("r-a", "tied", DATES[1], "success", tie, "master"),
        ("r-b", "tied", DATES[1], "failed", tie, "master"),
    ], INFO_SCHEMA)

    def spark_green(d):
        df = led.read("info_by_sources", INFO_SCHEMA).filter(
            (F.col("etl_date") == d) & F.col("created_by").isin("master", "group")
        )
        latest = latest_per_key(df, ["source_name"], "created_at", tie_breakers=["run_id"])
        row = latest.agg(
            F.min(F.col("status").isin("success", "skipped").cast("int")).alias("ok"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        return row.n > 0 and row.ok == 1

    assert [led.all_sources_green(d) for d in DATES] == [True, False]
    assert [led.all_sources_green(d) for d in DATES + ["2099-01-01"]] == [
        spark_green(d) for d in DATES + ["2099-01-01"]
    ]

    status = led.read("status_tasks", STATUS_SCHEMA)
    keys = status.select("source_name", "etl_date", "dag_id").distinct().collect()
    assert len(keys) >= 4
    for k in keys:
        spark_ok = {
            r.task_id for r in status.filter(
                (F.col("source_name") == k.source_name)
                & (F.col("etl_date") == k.etl_date)
                & (F.col("dag_id") == k.dag_id)
                & (F.col("status") == "success")
            ).select("task_id").distinct().collect()
        }
        assert led.successful_tasks(k.source_name, k.etl_date, k.dag_id) == spark_ok
        for task in ("start", "check_drift", "notify_drift", "absent"):
            for dag in (k.dag_id, None):
                cond = (
                    (F.col("source_name") == k.source_name)
                    & (F.col("task_id") == task)
                    & (F.col("etl_date") == k.etl_date)
                    & (F.col("status") == "success")
                )
                if dag is not None:
                    cond = cond & (F.col("dag_id") == dag)
                assert led.has_succeeded(k.source_name, task, k.etl_date, dag) == (
                    status.filter(cond).limit(1).count() > 0
                )

    # the date queue: pick, then claim/mark read-modify-writes
    def spark_next():
        dates = led.read("etl_dates", "etl_date string")
        got = first_by(
            dates.filter((F.col("holiday_flag") == 0) & F.col("status").isNull()),
            ["etl_date"],
        ).collect()
        return got[0].etl_date if got else None

    def spark_marked(d, s):
        return sorted(
            tuple(r) for r in led.read("etl_dates", "etl_date string")
            .withColumn("status", F.when(F.col("etl_date") == d, F.lit(s))
                        .otherwise(F.col("status")))
            .withColumn("current_date_flag", F.when(F.col("etl_date") == d, 1)
                        .otherwise(0))
            .collect()
        )

    def rows_now():
        return sorted(tuple(r.values()) for r in led.rows("etl_dates"))

    assert led.next_etl_date() == spark_next() is None
    want = spark_marked(DATES[0], "failed")
    led.mark_date(DATES[0], "failed")
    assert rows_now() == want
    want = spark_marked("2099-01-01", "running")  # unknown date: flags reset
    led.mark_date("2099-01-01", "running")
    assert rows_now() == want
    led.seed_dates([("2024-02-02", 0, None, 0), ("2024-02-01", 1, None, 0),
                    ("2024-02-03", 0, None, 0)])
    assert led.next_etl_date() == spark_next() == "2024-02-02"
    want = spark_marked("2024-02-02", "running")
    assert led.claim_next_date() == "2024-02-02"
    assert rows_now() == want
