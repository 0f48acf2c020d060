"""DuckDB oracle: the expected state of every sink, derived from the
generated input files alone, and the comparisons the correctness gate makes.

The engine's coercion and MERGE semantics are re-stated here in SQL, so a
wrong row in either sink shows as a count or checksum mismatch.
"""

from __future__ import annotations

import os

import duckdb

# one canonical row type for checksums on both sides
CANON = """CAST(OrderID AS BIGINT) AS OrderID, CAST(UserID AS BIGINT) AS UserID,
  CAST(AddedToCartAt AS TIMESTAMP) AS AddedToCartAt,
  CAST(OrderCreatedAt AS TIMESTAMP) AS OrderCreatedAt,
  CAST(Amount AS DECIMAL(18,4)) AS Amount, CAST(Product AS VARCHAR) AS Product,
  CAST(IsDelivered AS BOOLEAN) AS IsDelivered"""

# coercion of the raw CSV strings (operators/coerce.py semantics:
# malformed -> NULL, 'M/D/YYYY H:MM' timestamps, lexical booleans)
COERCE = """TRY_CAST(OrderID AS BIGINT) AS OrderID,
  TRY_CAST(UserID AS BIGINT) AS UserID,
  try_strptime(AddedToCartAt, '%m/%d/%Y %H:%M') AS AddedToCartAt,
  try_strptime(OrderCreatedAt, '%m/%d/%Y %H:%M') AS OrderCreatedAt,
  TRY_CAST(Amount AS DECIMAL(18,4)) AS Amount, Product,
  CASE WHEN upper(trim(IsDelivered)) IN ('TRUE','1','YES','T') THEN TRUE
       WHEN upper(trim(IsDelivered)) IN ('FALSE','0','NO','F') THEN FALSE END AS IsDelivered"""


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    return con


def load_landings(con, paths: list[str], dates: list[str]) -> None:
    """``landing``: every landing row coerced, tagged with its date's sequence
    number and the count of its values the coercion NULLs; ``complete``: the
    rows each date merges (timestamp on the date, key present)."""
    nulled = " + ".join(
        f"(r.{c} IS NOT NULL AND {expr} IS NULL)::INT"
        for c, expr in (("OrderID", "TRY_CAST(r.OrderID AS BIGINT)"),
                        ("UserID", "TRY_CAST(r.UserID AS BIGINT)"),
                        ("AddedToCartAt", "try_strptime(r.AddedToCartAt, '%m/%d/%Y %H:%M')"),
                        ("OrderCreatedAt", "try_strptime(r.OrderCreatedAt, '%m/%d/%Y %H:%M')"),
                        ("Amount", "TRY_CAST(r.Amount AS DECIMAL(18,4))"),
                        ("IsDelivered", "CASE WHEN upper(trim(r.IsDelivered)) IN "
                         "('TRUE','1','YES','T','FALSE','0','NO','F') THEN 1 END")))
    parts = [
        f"SELECT {COERCE}, {seq} AS seq, DATE '{d}' AS run_date, nulled FROM ("
        f"SELECT *, {nulled} AS nulled FROM read_csv('{p}', header=true, all_varchar=true) r)"
        for seq, (p, d) in enumerate(zip(paths, dates))
    ]
    con.execute("CREATE OR REPLACE TABLE landing AS " + " UNION ALL ".join(parts))
    con.execute("""CREATE OR REPLACE TABLE complete AS SELECT * FROM landing
                   WHERE OrderID IS NOT NULL AND CAST(OrderCreatedAt AS DATE) = run_date""")


def expected_state(con, history_path: str, n_dates: int) -> None:
    """``expected``: the history after the first ``n_dates`` dates of
    ``complete`` were upserted on OrderID (all non-key columns updated; the
    latest date wins)."""
    con.execute(f"""
      CREATE OR REPLACE TABLE expected AS
      WITH latest AS (
        SELECT * EXCLUDE (rn) FROM (
          SELECT *, row_number() OVER (PARTITION BY OrderID ORDER BY seq DESC) rn
          FROM complete WHERE seq < {n_dates})
        WHERE rn = 1)
      SELECT {CANON} FROM read_parquet('{history_path}')
      WHERE OrderID NOT IN (SELECT OrderID FROM latest)
      UNION ALL SELECT {CANON} FROM latest""")


def merge_counts(con, history_path: str, seq: int) -> dict[str, int]:
    """Rows of date ``seq`` that update an existing order vs insert a new one."""
    prior = f"""SELECT OrderID FROM read_parquet('{history_path}') UNION
                SELECT OrderID FROM complete WHERE seq < {seq}"""
    upd, ins = con.execute(f"""
      SELECT count(*) FILTER (WHERE OrderID IN ({prior})),
             count(*) FILTER (WHERE OrderID NOT IN ({prior}))
      FROM complete WHERE seq = {seq}""").fetchone()
    return {"updated": int(upd), "inserted": int(ins), "extracted": int(upd + ins)}


def landing_counts(con, seq: int) -> dict[str, int]:
    """NULL-timestamp rows and values NULLed by coercion in landing ``seq``."""
    null, nulled = con.execute(f"""
      SELECT count(*) FILTER (WHERE OrderCreatedAt IS NULL), sum(nulled)
      FROM landing WHERE seq = {seq}""").fetchone()
    return {"null": int(null), "nulled": int(nulled)}


def checksum(con, relation_sql: str) -> tuple[int, int]:
    """Row count plus an order-insensitive checksum of the canonical rows."""
    n, h = con.execute(f"""
      SELECT count(*), coalesce(sum(hash(OrderID, UserID, AddedToCartAt, OrderCreatedAt,
                                         Amount, Product, IsDelivered)::HUGEINT), 0)
      FROM (SELECT {CANON} FROM ({relation_sql}))""").fetchone()
    return int(n), int(h)


def parquet_relation(paths: list[str]) -> str:
    """A relation over parquet files (the live files of a TxnTable, say)."""
    if not paths:
        return "SELECT * FROM expected WHERE false"
    files = ", ".join(f"'{p}'" for p in paths)
    return f"SELECT * FROM read_parquet([{files}], union_by_name=true)"


def txn_relation(table) -> str:
    """A relation over a TxnTable's live files at its head version."""
    return parquet_relation([os.path.join(table.path, f.path) for f in table.files()])


def sqlite_relation(con, db_path: str, table: str) -> str:
    """Register the SQLite table's rows (read with the stdlib driver, NULLs
    kept as NULLs) as a DuckDB view and return a relation over it."""
    import sqlite3

    import pyarrow as pa

    with sqlite3.connect(db_path) as sq:
        cur = sq.execute(f"SELECT * FROM {table}")
        names = [c[0] for c in cur.description]
        cols = list(zip(*cur.fetchall())) or [()] * len(names)
    types = {"OrderID": pa.int64(), "UserID": pa.int64(), "IsDelivered": pa.int64()}
    arrow = pa.table({n: pa.array(list(c), types.get(n, pa.string()))
                      for n, c in zip(names, cols)})
    con.register(f"sqlite_{table}", arrow)
    return f"SELECT * FROM sqlite_{table}"

