"""Self-test of the benchmark harness at tiny scale.

    python3 perfbench/selftest.py

Runs the `tiny` workload (bulk_narrow's shape at 400 rows, two dates)
untraced and traced, and asserts that:

1. each run is correct and prints every metric BENCHMARK.json names
   (end_to_end untraced, per_layer traced) with the unit it declares;
2. the DuckDB replay gate passes on the run's warehouse, and fails once
   one hub row is corrupted in a copy of that warehouse.

Exits 0 when every assertion holds.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "tiny",
         "--seed", "5", "--seconds", "1", "--trace", str(trace), "--keep"],
        cwd=ROOT, capture_output=True, text=True, check=True).stdout
    lines = out.strip().splitlines()
    return json.loads(lines[-2])["context"], json.loads(lines[-1])


def check_metrics(result: dict, declared: list[dict]) -> None:
    assert result["correct"], result
    assert result["failed"] == 0 and result["attempted"] >= 1, result
    got = result["metrics"]
    for m in declared:
        assert m["name"] in got, f"missing metric {m['name']}"
        assert got[m["name"]]["unit"] == m["unit"], (m, got[m["name"]])
        assert isinstance(got[m["name"]]["value"], (int, float))


def corrupt_one_hub_row(raw_vault: str) -> str:
    """Change one business key of one hub data file in place."""
    from airflow_etl_spark.sources import txn

    hub = os.path.join(raw_vault, "hub_lineitem")
    f = txn.data_files(hub)[0]
    tb = pq.read_table(f)
    keys = tb.column("l_orderkey").to_pylist()
    keys[0] = keys[0] + 10_000_000
    tb = tb.set_column(tb.schema.get_field_index("l_orderkey"), "l_orderkey",
                       pc.cast(keys, tb.schema.field("l_orderkey").type))
    pq.write_table(tb, f)
    return hub


def main() -> int:
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    import replay
    import run as bench_run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    work_dirs = []
    try:
        ctx0, res0 = run(0)
        work_dirs.append(ctx0["work_dir"])
        check_metrics(res0, spec["end_to_end"])
        print("selftest: untraced run prints every end_to_end metric")
        ctx1, res1 = run(1)
        work_dirs.append(ctx1["work_dir"])
        check_metrics(res1, spec["per_layer"])
        print("selftest: traced run prints every per_layer metric")

        w = bench_run.WORKLOADS["tiny"]()
        work = ctx0["work_dir"]
        inputs_dirs = sorted(os.path.join(work, "in", d)
                             for d in os.listdir(os.path.join(work, "in")))
        srcs, multi = w.sources()
        days = list(zip(bench_run.DATES[: w.n_days], inputs_dirs))
        expected = replay.expected_vault(srcs, multi, days)
        wh = [d for d in sorted(os.listdir(work)) if d.startswith("wh")][-1]
        raw = os.path.join(work, wh, "raw_vault")
        clean = replay.compare_vault(raw, expected)
        assert all(v["ok"] for v in clean.values()), clean
        copy = os.path.join(work, "corrupt_raw_vault")
        shutil.copytree(raw, copy)
        corrupt_one_hub_row(copy)
        bad = replay.compare_vault(copy, expected)
        assert not bad["hub_lineitem"]["ok"], bad["hub_lineitem"]
        assert all(v["ok"] for k, v in bad.items() if k != "hub_lineitem")
        print("selftest: replay gate fails on a corrupted hub row")
    finally:
        for d in work_dirs:
            if d:
                shutil.rmtree(d, ignore_errors=True)
    print("selftest: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
