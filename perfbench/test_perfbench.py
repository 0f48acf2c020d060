"""The benchmark's own tests: argument checks, a tiny smoke run of every
workload in both modes, and planted wrong rows that the gate must catch.

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import os
import sqlite3
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import core  # noqa: E402
import run  # noqa: E402

TINY = ["--seconds", "1", "--scale", "0.02", "--cores", "2"]


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _session(pid: int) -> list[int]:
    """Live (not zombie) processes in the session that ``pid`` leads."""
    out = []
    for d in os.listdir("/proc"):
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        if fields[0] != "Z" and int(fields[3]) == pid:
            out.append(int(d))
    return out


def _cli(*args: str) -> tuple[subprocess.CompletedProcess, list[int]]:
    """Run the benchmark in a session of its own; (its result, the
    processes of that session still running after it exited)."""
    with subprocess.Popen([sys.executable, os.path.join(HERE, "run.py"), *args],
                          stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                          cwd=ROOT, start_new_session=True) as proc:
        out, err = proc.communicate(timeout=600)
    return subprocess.CompletedProcess(proc.args, proc.returncode, out, err), _session(proc.pid)


def test_metric_tables_match_benchmark_json():
    spec = _bench_json()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == core.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == core.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


@pytest.mark.parametrize("args, message", [
    (["--workload", "nope", "--seed", "1", "--seconds", "5"], "invalid choice"),
    (["--workload", "daily_sync", "--seed", "x", "--seconds", "5"], "--seed must be a whole"),
    (["--workload", "daily_sync", "--seed", "-1", "--seconds", "5"], "--seed must be in"),
    (["--workload", "daily_sync", "--seed", "1", "--seconds", "0"], "--seconds must be in"),
    (["--workload", "daily_sync", "--seed", "1", "--seconds", "5", "--trace", "2"],
     "--trace must be in"),
    (["--workload", "daily_sync", "--seed", "1", "--seconds", "5", "--cores", "0"],
     "--cores must be in"),
    (["--workload", "daily_sync", "--seed", "1", "--seconds", "5", "--cores", "four"],
     "--cores must be a whole"),
    (["--workload", "daily_sync", "--seed", "1", "--seconds", "5", "--scale", "2"],
     "--scale must be in"),
])
def test_bad_configuration_stops_with_a_message(args, message):
    p, _ = _cli(*args)
    assert p.returncode == 2
    assert message in p.stderr
    assert p.stdout == ""


@pytest.mark.parametrize("workload", run.WORKLOADS)
@pytest.mark.parametrize("trace", ["0", "1"])
def test_smoke_run_prints_every_metric(workload, trace):
    p, left = _cli("--workload", workload, "--seed", "7", "--trace", trace, *TINY)
    assert p.returncode == 0, p.stderr[-3000:]
    assert left == [], "the run left processes behind"
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    spec = _bench_json()["per_layer" if trace == "1" else "end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec}
    report = json.loads(p.stdout.strip().splitlines()[-2])
    assert report["input"] and report["failed_ops_ratio"] == 0.0
    if trace == "1":
        assert 0.9 < result["metrics"]["trace.coverage"]["value"] <= 1.0


def _run_in_process(workload: str, monkeypatch, capsys) -> tuple[int, dict]:
    code = run.main(["--workload", workload, "--seed", "3", *TINY])
    result = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    return code, result


def test_wrong_row_in_sqlite_sink_fails_the_gate(monkeypatch, capsys):
    import wl_daily_sync

    checked = wl_daily_sync.check_final

    def planted(con, st, n):
        with sqlite3.connect(st.db_path) as sq:
            sq.execute("UPDATE orders SET Amount = '0.0001' "
                       "WHERE OrderID = (SELECT max(OrderID) FROM orders)")
        return checked(con, st, n)

    monkeypatch.setattr(wl_daily_sync, "check_final", planted)
    code, result = _run_in_process("daily_sync", monkeypatch, capsys)
    assert code == 1 and not result["correct"] and result["failed"] == 1


def test_wrong_row_in_txn_table_fails_the_gate(monkeypatch, capsys):
    import wl_daily_sync

    checked = wl_daily_sync.check_final

    def planted(con, st, n):
        st.table.append(st.table.read().limit(1))  # a duplicated order
        return checked(con, st, n)

    monkeypatch.setattr(wl_daily_sync, "check_final", planted)
    code, result = _run_in_process("daily_sync", monkeypatch, capsys)
    assert code == 1 and not result["correct"]


def test_wrong_rollup_row_fails_the_gate(monkeypatch, capsys):
    import wl_daily_sync

    checked = wl_daily_sync.check_date

    def planted(con, st, seq, got):
        from pyspark.sql import functions as F

        rollup = st.table.spark.read.parquet(st.rollup_path)
        wrong = rollup.withColumn("n_rows", F.col("n_rows") + F.lit(1)).localCheckpoint()
        wrong.write.mode("overwrite").parquet(st.rollup_path)
        return checked(con, st, seq, got)

    monkeypatch.setattr(wl_daily_sync, "check_date", planted)
    code, result = _run_in_process("daily_sync", monkeypatch, capsys)
    assert code == 1 and not result["correct"]


def test_wrong_query_result_fails_the_gate(monkeypatch, capsys):
    import wl_analytics

    checked = wl_analytics.compare

    def planted(name, got, want):
        return checked(name, got.iloc[1:] if name == "rollup_revenue" else got, want)

    monkeypatch.setattr(wl_analytics, "compare", planted)
    code, result = _run_in_process("analytics", monkeypatch, capsys)
    assert code == 1 and not result["correct"] and result["failed"] >= 1
