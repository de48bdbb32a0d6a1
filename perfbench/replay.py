"""Independent correctness gates for the pipeline workloads.

`expected_vault` replays the Data Vault load in DuckDB from the same
generated day directories the pipeline read: hub keys with their first
load date, link pairs, and the SCD2 satellite versions (open and closed).
`compare_vault` reads the warehouse's live files with pyarrow — not
through the package's readers — and compares the two sides as md5 hashes
of their sorted canonical rows. `ledger_gate` checks the run ledger: every
task ended success or skipped and every date is marked success.
"""

from __future__ import annotations

import datetime
import hashlib
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq


def _hash_sql(cols: list[str]) -> str:
    """DuckDB form of the package's dv_hash_key: sha256 over '||'-joined,
    NULL-as-'' string casts of the columns."""
    parts = ", ".join(f"coalesce(CAST({c} AS VARCHAR), '')" for c in cols)
    return f"sha256(concat_ws('||', {parts}))"


def _snap_view(con, table: str, days: list[tuple[str, str]],
               cols: list[str]) -> None:
    """View `snap(di, d, cols...)`: the table's rows on every day."""
    sel = ", ".join(cols)
    union = " UNION ALL ".join(
        f"SELECT {i} AS di, '{d}' AS d, {sel} "
        f"FROM read_parquet('{os.path.join(path, table + '.parquet')}')"
        for i, (d, path) in enumerate(days)
    )
    con.execute(f"CREATE OR REPLACE VIEW snap AS {union}")


def expected_vault(sources, multi, days: list[tuple[str, str]]
                   ) -> dict[str, pa.Table]:
    """Expected raw_vault tables for the pipeline's SourceConfig list and
    optional MultiSourceConfig. `days` is [(etl_date, day_dir)] in load
    order; a source table is read from `<day_dir>/<table>.parquet`, as the
    pipeline reads it."""
    con = duckdb.connect()
    out = {}
    try:
        hubs = [(e, s.name) for s in sources for e in s.entities]
        hubs += [(e, "multi_sources") for e in (multi.entities if multi
                                                 else [])]
        for ent, rs in hubs:
            ks = ent.business_keys
            _snap_view(con, ent.table, days, ks)
            out[f"hub_{ent.name}"] = con.execute(
                f"SELECT {_hash_sql(ks)} AS {ent.name}_hash_key, "
                f"{', '.join(ks)}, min(d) AS load_date, "
                f"'{rs}' AS record_source FROM snap GROUP BY {', '.join(ks)}"
            ).arrow()
        for s in sources:
            for ent in s.entities:
                out[f"satellite_{ent.name}"] = con.execute(
                    _satellite_sql(con, ent, s.name, days)).arrow()
            for lk in s.links:
                ks = lk.left_keys + [k for k in lk.right_keys
                                     if k not in lk.left_keys]
                _snap_view(con, lk.table, days, ks)
                out[f"link_{lk.name}"] = con.execute(
                    f"SELECT {_hash_sql(lk.left_keys + lk.right_keys)} AS "
                    f"{lk.name}_hash_key, {_hash_sql(lk.left_keys)} AS "
                    f"{lk.left_entity}_hash_key, {_hash_sql(lk.right_keys)} "
                    f"AS {lk.right_entity}_hash_key, min(d) AS load_date, "
                    f"'{s.name}' AS record_source "
                    f"FROM snap GROUP BY {', '.join(ks)}").arrow()
    finally:
        con.close()
    return out


def _satellite_sql(con, ent, record_source: str, days) -> str:
    """SCD2 versions: a version opens on a day its key is present with
    attributes that differ from the day before (or were absent), and
    closes on the next day they differ or the key is gone."""
    ks, attrs = ent.business_keys, ent.attr_cols
    _snap_view(con, ent.table, days, ks + attrs)
    con.execute(
        "CREATE OR REPLACE VIEW dates AS "
        + " UNION ALL ".join(f"SELECT {i} AS di, '{d}' AS d"
                             for i, (d, _p) in enumerate(days)))
    kl = ", ".join(ks)
    on = " AND ".join(f"g.{k} = s.{k}" for k in ks)
    a_sel = ", ".join(f"s.{a}" for a in attrs)
    lags = ", ".join(
        f"lag({a}) OVER w AS prev_{a}" for a in attrs)
    differs = " OR ".join(f"{a} IS DISTINCT FROM prev_{a}" for a in attrs)
    return f"""
    WITH keys AS (SELECT DISTINCT {kl} FROM snap),
    grid AS (SELECT keys.*, dates.di, dates.d FROM keys CROSS JOIN dates),
    g AS (
      SELECT {', '.join('g.' + k for k in ks)}, g.di, g.d, {a_sel},
             s.di IS NOT NULL AS present
      FROM grid g LEFT JOIN snap s ON {on} AND g.di = s.di),
    w AS (
      SELECT *, lag(present) OVER w AS prev_present, {lags}
      FROM g WINDOW w AS (PARTITION BY {kl} ORDER BY di)),
    ev AS (
      SELECT *,
        present AND (prev_present IS NULL OR NOT prev_present
                     OR {differs}) AS opens,
        coalesce(prev_present, false)
          AND (NOT present OR {differs}) AS closes
      FROM w),
    nx AS (
      SELECT *, min(CASE WHEN closes THEN d END) OVER (
        PARTITION BY {kl} ORDER BY di
        ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_close
      FROM ev)
    SELECT {_hash_sql(ks)} AS {ent.name}_hash_key, {', '.join(attrs)},
           d AS load_date, next_close AS load_end_date,
           '{record_source}' AS record_source
    FROM nx WHERE opens
    """


def _canon(v) -> str:
    if v is None:
        return "\x00"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    return str(v)


def _digest(tb: pa.Table, cols: list[str]) -> tuple[str, int]:
    rows = sorted(
        "\x1f".join(_canon(v) for v in r)
        for r in zip(*(tb.column(c).to_pylist() for c in cols)))
    h = hashlib.md5()
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest(), len(rows)


def read_live(path: str, columns: list[str] | None = None) -> pa.Table:
    """A txn table's live rows (optionally only `columns`), from the
    manifest's file list."""
    from airflow_etl_spark.sources import txn

    m = txn.live_manifest(path)
    if m is None:
        raise FileNotFoundError(path)
    if m.get("deletes"):
        raise ValueError(f"{path}: delete files present; replay compares "
                         "append/COW tables only")
    parts = [pq.read_table(f, columns=columns) for f in txn.data_files(path)]
    return pa.concat_tables(parts, promote_options="default")


def compare_vault(raw_vault_dir: str, expected: dict[str, pa.Table]
                  ) -> dict[str, dict]:
    """Per table: {"ok", "rows", "expected_rows", "digest", ...}."""
    res = {}
    for name, exp in expected.items():
        cols = exp.column_names
        try:
            got = read_live(os.path.join(raw_vault_dir, name), cols)
            gd, gn = _digest(got, cols)
        except (FileNotFoundError, KeyError, ValueError) as e:
            res[name] = {"ok": False, "error": repr(e)}
            continue
        ed, en = _digest(exp, cols)
        res[name] = {"ok": gd == ed, "rows": gn, "expected_rows": en,
                     "digest": gd}
    return res


def ledger_gate(ledger_dir: str, dates: list[str]) -> dict:
    """Every task status row is success/skipped; every date is success."""
    status = read_live(os.path.join(ledger_dir, "status_tasks"),
                       ["dag_id", "task_id", "status"])
    bad = [r for r in status.to_pylist()
           if r["status"] not in ("success", "skipped")]
    dt = read_live(os.path.join(ledger_dir, "etl_dates"),
                   ["etl_date", "status"]).to_pylist()
    marks = {r["etl_date"]: r["status"] for r in dt}
    not_green = [d for d in dates if marks.get(d) != "success"]
    return {"ok": not bad and not not_green, "bad_tasks": bad[:10],
            "task_rows": status.num_rows, "dates_not_success": not_green}
