"""Workload ``daily_sync``: consecutive logical dates through the product
path, against a pre-loaded, date-clustered TxnTable history, a SQLite orders
table and a CDC follower that keeps a per-day revenue rollup of the
TxnTable.

Per date (one op): read the raw-CSV landing file, coerce it (with
per-column NULL-ing counts), run ``plans.daily_sync.daily_sync`` for the
date's counts and quarantine, commit the complete rows with
``TxnTable.merge(prune_col="OrderCreatedAt", strategy="small_source")``,
catch the rollup up with the ``txntable_cdc`` source and
``cdc_source.rollup_maintainer`` under ``runner.run_available_now``,
overwrite the quarantine TxnTable, upsert the complete rows into SQLite,
then read both sinks back with ``validate.filtered_count`` / a SQLite count
and ``validate.reconcile`` them.
"""

from __future__ import annotations

import os
import sqlite3
import statistics
import time
from dataclasses import dataclass
from datetime import datetime

import numpy as np

import gen
import oracle
from core import Bench, Loop, commit_delta, stored_bytes_per_row

HISTORY_ROWS = 1_000_000
WARMUP_DATES = 2  # the JIT keeps warming over the first dates
N_DATES = 10  # two warm-up dates and up to eight timed ones
SQLITE_COLS = "OrderID INTEGER PRIMARY KEY, UserID INTEGER, AddedToCartAt TEXT, " \
              "OrderCreatedAt TEXT, Amount TEXT, Product TEXT, IsDelivered INTEGER"


MEASURES = {"revenue": "Amount"}


@dataclass
class State:
    inputs: gen.DailyInputs
    table: object
    quarantine: object
    db_path: str
    rollup_path: str
    checkpoint: str


def _sqlite_rows(t) -> list[tuple]:
    """Arrow orders -> SQLite tuples in the sink's text encodings (the same
    strings the engine's upsert frame carries)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def text(c, via=None):
        col = pc.cast(t[c], via) if via is not None else t[c]
        return pc.cast(col, pa.string()).to_pylist()

    return list(zip(t["OrderID"].to_pylist(), t["UserID"].to_pylist(),
                    text("AddedToCartAt", pa.timestamp("s")),
                    text("OrderCreatedAt", pa.timestamp("s")), text("Amount"),
                    t["Product"].to_pylist(),
                    pc.cast(t["IsDelivered"], pa.int64()).to_pylist()))


def _connector(path: str, log: str):
    """The writer's connection factory. Each connection appends its
    ``total_changes`` (rows inserted or updated) to ``log`` when it closes,
    so the upserted count comes from the sink's side of the call."""
    def connect(_p=path, _log=log):
        import sqlite3 as _sq

        class Counted(_sq.Connection):
            def close(self):
                with open(_log, "a") as f:
                    f.write(f"{self.total_changes}\n")
                super().close()

        return _sq.connect(_p, timeout=60, factory=Counted)

    return connect


def _take_changes(log: str) -> int:
    """Rows the writer's connections changed since the last call."""
    if not os.path.exists(log):
        return 0
    with open(log) as f:
        n = sum(int(line) for line in f)
    os.remove(log)
    return n


def _rows_read_listener():
    """A listener summing the CDC stream's ``numInputRows`` over its
    micro-batches: the rows the follower actually read."""
    from pyspark.sql.streaming import StreamingQueryListener

    class RowsRead(StreamingQueryListener):
        rows = 0

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.rows += event.progress.numInputRows

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return RowsRead()


def prepare(bench: Bench, d: str) -> State:
    from pyspark.sql import functions as F

    from etl_mssql_to_postgres_dailysync_spark.sources.txn_table import TxnTable

    rows = max(2000, int(HISTORY_ROWS * bench.args.scale))
    inputs = gen.gen_daily(np.random.default_rng(bench.args.seed), d, rows, N_DATES)
    spark = bench.spark
    table = TxnTable(spark, os.path.join(d, "orders_txn"), stats_cols=["OrderCreatedAt"])
    # 16 range-clustered files: a date's merge rewrites (and the follower
    # re-reads) about 1/16 of the table
    table.overwrite(spark.read.parquet(inputs.history_path).repartition(16),
                    cluster_by=["OrderCreatedAt"])
    # the follower's rollup starts from a snapshot of the head; the stream then
    # follows every later commit
    rollup_path = os.path.join(d, "rollup")
    (table.read().groupBy(F.to_date("OrderCreatedAt").alias("order_date"))
     .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("Amount").alias("revenue"))
     .write.parquet(rollup_path))
    quarantine = TxnTable(spark, os.path.join(d, "quarantine_txn"))
    db_path = os.path.join(d, "orders.db")
    import pyarrow.parquet as pq

    # the SQLite serving copy holds the sync window: the logical dates' orders
    first = datetime.fromisoformat(inputs.dates[0])
    window = pq.read_table(inputs.history_path, filters=[("OrderCreatedAt", ">=", first)])
    with sqlite3.connect(db_path) as con:
        con.execute(f"CREATE TABLE orders ({SQLITE_COLS})")
        con.executemany("INSERT INTO orders VALUES (?,?,?,?,?,?,?)", _sqlite_rows(window))
    return State(inputs, table, quarantine, db_path, rollup_path,
                 os.path.join(d, "cdc_checkpoint"))


def run(bench: Bench):
    from pyspark.sql import functions as F

    from etl_mssql_to_postgres_dailysync_spark.operators import coerce, filters, validate
    from etl_mssql_to_postgres_dailysync_spark.plans.daily_sync import daily_sync
    from etl_mssql_to_postgres_dailysync_spark.schemas import ORDERS_RAW_SCHEMA
    from etl_mssql_to_postgres_dailysync_spark.sources import readers, writers
    from etl_mssql_to_postgres_dailysync_spark.streaming import runner
    from etl_mssql_to_postgres_dailysync_spark.streaming.cdc_source import (
        TxnTableCdcDataSource, rollup_maintainer)

    bench.start_session()
    spark = bench.spark
    spark.dataSource.register(TxnTableCdcDataSource)
    prep_s, st = bench.prepare(lambda d: prepare(bench, d))
    inp = st.inputs
    changes_log = os.path.join(bench.work, "sqlite_changes.log")
    connect = _connector(st.db_path, changes_log)
    rows_read = _rows_read_listener()
    if bench.args.trace:  # rows read is a per-layer figure; the plain run stays bare
        spark.streams.addListener(rows_read)
    con = oracle.connect()
    oracle.load_landings(con, inp.landing_paths, inp.dates)
    stream = (spark.readStream.format("txntable_cdc").option("path", st.table.path)
              .option("startingversion", str(st.table.version())).load()
              .withColumn("order_date", F.to_date("OrderCreatedAt")))
    maintain = rollup_maintainer(spark, st.rollup_path, ["order_date"], MEASURES)
    batches: list[int] = []

    def follow(batch_df, batch_id):
        batches.append(batch_id)
        maintain(batch_df, batch_id)

    engine_counts: list[dict] = []
    cdc_lags: list[float] = []

    def op(i: int, loop) -> str:
        d, path = inp.dates[i], inp.landing_paths[i]
        sp = bench.span
        with sp("sources.readers:read_csv"):
            raw = readers.read_csv(spark, path, schema=ORDERS_RAW_SCHEMA)
        with sp("operators.coerce:coerce_orders_raw"):
            src = coerce.coerce_orders_raw(raw)
        with sp("operators.coerce:coercion_accounting"):
            acct = coerce.coercion_accounting(
                raw, {c: fn(c) for c, fn in coerce.ORDERS_COERCIONS.items()}).first()
        with sp("sources.txn_table:read"):
            target = st.table.read()
        with sp("plans.daily_sync:daily_sync"):
            res = daily_sync(src, target, d)
        with sp("operators.filters:daily_partition"):
            complete = filters.drop_null_keys(
                src.filter(filters.daily_partition("OrderCreatedAt", d)), ["OrderID"])
        v0 = st.table.version()
        with sp("sources.txn_table:merge"):
            st.table.merge(complete, ["OrderID"], prune_col="OrderCreatedAt",
                           strategy="small_source")
        committed, n_batches = time.perf_counter(), len(batches)
        with sp("streaming:run_available_now"):
            runner.run_available_now(stream, follow, st.checkpoint)
        cdc_lags.append(time.perf_counter() - committed)
        with sp("sources.txn_table:overwrite"):
            st.quarantine.overwrite(res.incomplete_snapshot)
        with sp("sources.writers:jdbc_upsert_write"):
            sink_rows = complete.select(
                "OrderID", "UserID",
                F.date_format("AddedToCartAt", "yyyy-MM-dd HH:mm:ss").alias("AddedToCartAt"),
                F.date_format("OrderCreatedAt", "yyyy-MM-dd HH:mm:ss").alias("OrderCreatedAt"),
                F.col("Amount").cast("string").alias("Amount"), "Product",
                F.col("IsDelivered").cast("int").alias("IsDelivered"))
            writers.jdbc_upsert_write(sink_rows.coalesce(1), connect, "orders", ["OrderID"],
                                      dialect="sqlite")
        upserted = _take_changes(changes_log)
        with sp("sources.txn_table:read"):
            head = st.table.read()
        with sp("operators.validate:filtered_count"):
            txn_visible = validate.filtered_count(head, "OrderCreatedAt", d)
        with sp("sinks.sqlite:count"):
            with sqlite3.connect(st.db_path) as sq:
                sql_visible = sq.execute(
                    "SELECT count(*) FROM orders WHERE OrderCreatedAt >= ? AND OrderCreatedAt < "
                    "date(?, '+1 day')", (d, d)).fetchone()[0]
        with sp("operators.validate:reconcile"):
            extracted = res.metrics["extracted_row_count"]
            loaded = res.metrics["loaded_row_count"]
            reports = [res.report, validate.reconcile(extracted, loaded, txn_visible),
                       validate.reconcile(extracted, loaded, sql_visible)]
        n_updated, n_inserted = res.metrics["merge_updated"], res.metrics["merge_inserted"]
        nulled = sum(acct.asDict().values())
        engine_counts.append({
            "updated": n_updated, "inserted": n_inserted, "extracted": extracted,
            "null": res.metrics["null_extracted_row_count"], "nulled": nulled,
            "warnings": sum(len(r.warnings) for r in reports), "upserted": upserted})
        delta = commit_delta(st.table, v0, v0 + 1)
        loop.add("operators.coerce.nulled_values_per_op", nulled)
        loop.add("operators.merge.rows_updated_per_op", n_updated)
        loop.add("operators.merge.rows_inserted_per_op", n_inserted)
        loop.add("operators.merge.rows_kept_per_op",
                 delta["rows_added"] - n_updated - n_inserted)
        loop.add("sources.txn_table.files_rewritten_per_op", delta["files_removed"])
        loop.add("sources.txn_table.rows_rewritten_per_op", delta["rows_added"])
        loop.add("sources.txn_table.bytes_written_per_op", delta["bytes_added"])
        loop.add("sources.writers.upserted_rows_per_op", upserted)
        loop.add("operators.validate.warnings_per_op", engine_counts[-1]["warnings"])
        loop.add("streaming.cdc.batches_per_op", len(batches) - n_batches)
        return d

    t0 = time.perf_counter()
    warm_problems = []
    for i in range(WARMUP_DATES):  # untimed: JIT, Python workers, first commits
        op(i, Loop())
        warm_problems += check_date(con, st, i, engine_counts.pop())
    warm_s = time.perf_counter() - t0
    del cdc_lags[:]
    bench.tracer.drain()
    read_before = rows_read.rows
    # dates in pairs: a date can outlast --seconds, and the median needs two
    loop = bench.timed_loop(N_DATES - WARMUP_DATES, lambda i, lp: op(i + WARMUP_DATES, lp),
                            lambda i, lp: check_date(con, st, i + WARMUP_DATES, engine_counts[-1]),
                            unit=2)
    loop.counts["sources.txn_table.live_files"] = len(st.table.files())
    bench.tracer.drain()
    loop.counts["streaming.cdc.rows_read_per_op"] = rows_read.rows - read_before
    final = warm_problems + check_final(con, st, WARMUP_DATES + len(loop.latencies))
    extra = {
        "cdc_lag_s": statistics.median(cdc_lags),
        "stored_bytes_per_row": stored_bytes_per_row(st.table),
        "sync_rows_per_s": sum(c["extracted"] for c in engine_counts) / sum(loop.latencies),
        "setup_parts_s": {"session": bench.session_start_s, "prepare": prep_s,
                          "warmup": warm_s},
    }
    setup_s = bench.session_start_s + prep_s + warm_s
    return bench.result(setup_s, loop, final, properties(con, inp), extra)


def check_date(con, st: State, seq: int, got: dict) -> list[str]:
    """One date against the oracle: merge counts, extracted and NULL-key
    counts, values NULLed by coercion, reconcile warnings, the quarantine
    table's rows, and the rollup against the aggregate recomputed from the
    TxnTable head."""
    want = {**oracle.merge_counts(con, st.inputs.history_path, seq),
            **oracle.landing_counts(con, seq)}
    d = st.inputs.dates[seq]
    problems = [f"{d}: {k} engine={got[k]} oracle={want[k]}"
                for k in ("updated", "inserted", "extracted", "null", "nulled")
                if got[k] != want[k]]
    if got["upserted"] != want["extracted"]:
        problems.append(f"{d}: SQLite changed {got['upserted']} rows, "
                        f"oracle upserts {want['extracted']}")
    if got["warnings"]:
        problems.append(f"{d}: {got['warnings']} reconcile warnings")
    have = oracle.checksum(con, oracle.txn_relation(st.quarantine))
    expect = oracle.checksum(
        con, f"SELECT * FROM landing WHERE seq = {seq} AND OrderCreatedAt IS NULL")
    if have != expect:
        problems.append(f"{d}: quarantine rows/checksum {have} != oracle {expect}")
    head = con.execute(f"""
      SELECT CAST(OrderCreatedAt AS DATE) d, count(*) n, sum(Amount) r
      FROM ({oracle.txn_relation(st.table)}) GROUP BY 1 ORDER BY 1""").fetchall()
    rollup = con.execute(f"""
      SELECT order_date, n_rows, revenue FROM read_parquet('{st.rollup_path}/*.parquet')
      ORDER BY 1""").fetchall()
    if head != rollup:
        problems.append(f"{d}: rollup differs from the head's per-day count and revenue")
    return problems


def check_final(con, st: State, n_dates: int) -> list[str]:
    """Both sinks' final state against the oracle's MERGE of every loaded date."""
    oracle.expected_state(con, st.inputs.history_path, n_dates)
    expect = oracle.checksum(con, "SELECT * FROM expected")
    problems = []
    have = oracle.checksum(con, oracle.txn_relation(st.table))
    if have != expect:
        problems.append(f"TxnTable head rows/checksum {have} != oracle {expect}")
    have = oracle.checksum(con, oracle.sqlite_relation(con, st.db_path, "orders"))
    expect = oracle.checksum(con, "SELECT * FROM expected WHERE OrderCreatedAt >= "
                                  f"TIMESTAMP '{st.inputs.dates[0]}'")
    if have != expect:
        problems.append(f"SQLite orders rows/checksum {have} != oracle {expect}")
    return problems


def properties(con, inp: gen.DailyInputs) -> dict:
    """Measured shape of the inputs (over every generated landing file)."""
    n, null_ts, null_id, nulled = con.execute("""
      SELECT count(*), count(*) FILTER (WHERE OrderCreatedAt IS NULL),
             count(*) FILTER (WHERE OrderID IS NULL), sum(nulled) FROM landing""").fetchone()
    hist = len(inp.history)
    upd = con.execute(f"""SELECT count(*) FROM complete WHERE OrderID IN
                          (SELECT OrderID FROM read_parquet('{inp.history_path}'))""").fetchone()[0]
    comp = con.execute("SELECT count(*) FROM complete").fetchone()[0]
    return {
        "target_rows": hist,
        "delta_rows_per_date": n / len(inp.dates),
        "delta_share_of_target": n / len(inp.dates) / hist,
        "update_share": upd / comp, "insert_share": 1 - upd / comp,
        "null_timestamp_share": null_ts / n, "null_order_id_share": null_id / n,
        "malformed_value_share": nulled / (n * 6),
    }
