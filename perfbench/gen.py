"""Seeded input generators for the workloads.

Everything the engine reads is written here, before any timing starts, into
the run's work directory. The same seed gives byte-identical files. The
order generators also return the typed rows they planted, which the
correctness gate uses where the oracle cannot read a fact from the files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from datetime import date, datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

ORDER_COLS = ["OrderID", "UserID", "AddedToCartAt", "OrderCreatedAt", "Amount",
              "Product", "IsDelivered"]
PRODUCTS = np.array(["Laptop", "Tablet", "Smartphone", "Headphones", "Monitor", "Keyboard"])
EPOCH = date(2025, 1, 1)

# Malformed spellings per column: each must coerce to NULL under both the
# engine's casts and the DuckDB oracle's TRY_CASTs.
MALFORMED = {
    "UserID": ["x12", "n/a", "??"],
    "Amount": ["N/A", "12.5.5", "--"],
    "IsDelivered": ["maybe", "unknown", "?"],
    "OrderCreatedAt": ["not-a-date", "99/99/2025 99:99", "??"],
}

ORDERS_ARROW = pa.schema([
    ("OrderID", pa.int64()), ("UserID", pa.int64()),
    ("AddedToCartAt", pa.timestamp("us")), ("OrderCreatedAt", pa.timestamp("us")),
    ("Amount", pa.decimal128(18, 4)), ("Product", pa.string()),
    ("IsDelivered", pa.bool_()),
])


@dataclass
class OrderBatch:
    """Typed orders as numpy columns; ``cart``/``created`` are minutes since
    EPOCH (created < 0 means NULL), ``cents`` is the amount in cents."""

    order_id: np.ndarray
    user_id: np.ndarray
    cart: np.ndarray
    created: np.ndarray
    cents: np.ndarray
    product: np.ndarray
    delivered: np.ndarray
    # column -> mask of values that read as NULL: written malformed in a raw
    # CSV, or NULL outright in a typed extract
    malformed: dict = field(default_factory=dict)

    def __len__(self) -> int:
        return len(self.order_id)

    def take(self, idx) -> "OrderBatch":
        return OrderBatch(self.order_id[idx], self.user_id[idx], self.cart[idx],
                          self.created[idx], self.cents[idx], self.product[idx],
                          self.delivered[idx],
                          {k: v[idx] for k, v in self.malformed.items()})

    @staticmethod
    def concat(parts: list["OrderBatch"]) -> "OrderBatch":
        cols = ["order_id", "user_id", "cart", "created", "cents", "product", "delivered"]
        out = OrderBatch(*[np.concatenate([getattr(p, c) for p in parts]) for c in cols])
        for k in MALFORMED:
            out.malformed[k] = np.concatenate(
                [p.malformed.get(k, np.zeros(len(p), bool)) for p in parts])
        return out


def _minutes_to_ts(m: np.ndarray) -> pa.Array:
    base = np.datetime64(EPOCH.isoformat(), "us")
    vals = base + m.astype("timedelta64[m]")
    return pa.array(vals, type=pa.timestamp("us"), mask=m < 0)


def _decimal_cents(cents: np.ndarray, null: np.ndarray) -> pa.Array:
    """decimal(18,4) from integer cents, built from the unscaled 128-bit
    values (two little-endian int64 words) without a Python loop."""
    unscaled = cents.astype(np.int64) * 100
    words = np.stack([unscaled, np.where(unscaled < 0, -1, 0)], axis=1)
    arr = pa.Array.from_buffers(pa.decimal128(18, 4), len(cents),
                                [None, pa.py_buffer(words.tobytes())])
    return pc.if_else(pa.array(null), pa.scalar(None, arr.type), arr)


def orders_arrow(b: OrderBatch) -> pa.Table:
    """Typed table; malformed values appear as the NULL they coerce to."""
    def masked(col):
        return b.malformed.get(col, np.zeros(len(b), bool))

    created = np.where(masked("OrderCreatedAt"), -1, b.created)
    return pa.table([
        pa.array(b.order_id, pa.int64(), mask=masked("OrderID")),
        pa.array(b.user_id, pa.int64(), mask=masked("UserID")),
        _minutes_to_ts(b.cart),
        _minutes_to_ts(created),
        _decimal_cents(b.cents, masked("Amount")),
        pa.array(b.product, pa.string()),
        pa.array(b.delivered, pa.bool_(), mask=masked("IsDelivered")),
    ], schema=ORDERS_ARROW)


def _fmt_minutes(m: int) -> str:
    # the reference CSV's 'M/D/YYYY H:MM' (orders.csv:2 -> '4/20/2025 4:11')
    t = datetime(EPOCH.year, EPOCH.month, EPOCH.day) + timedelta(minutes=int(m))
    return f"{t.month}/{t.day}/{t.year} {t.hour}:{t.minute:02d}"


def write_orders_csv(b: OrderBatch, path: str, rng: np.random.Generator) -> None:
    """Raw-CSV landing file: every value a string, empty = NULL, malformed
    values spelled from MALFORMED."""
    def pick(col, n):
        return rng.choice(MALFORMED[col], size=n)

    n = len(b)
    bad = {c: b.malformed.get(c, np.zeros(n, bool)) for c in MALFORMED}
    bad_txt = {c: pick(c, n) for c in MALFORMED}
    lines = [",".join(ORDER_COLS)]
    for i in range(n):
        uid = bad_txt["UserID"][i] if bad["UserID"][i] else str(b.user_id[i])
        if bad["OrderCreatedAt"][i]:
            created = bad_txt["OrderCreatedAt"][i]
        else:
            created = "" if b.created[i] < 0 else _fmt_minutes(b.created[i])
        c = int(b.cents[i])
        amount = bad_txt["Amount"][i] if bad["Amount"][i] else f"{c // 100}.{c % 100:02d}"
        if bad["IsDelivered"][i]:
            deliv = bad_txt["IsDelivered"][i]
        else:
            deliv = "True" if b.delivered[i] else "False"
        lines.append(",".join([str(b.order_id[i]), uid, _fmt_minutes(b.cart[i]), created,
                               amount, str(b.product[i]), deliv]))
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


def _new_orders(rng, ids: np.ndarray, day_of: np.ndarray, null_ts: np.ndarray) -> OrderBatch:
    n = len(ids)
    created = day_of * 1440 + rng.integers(0, 1440, n)
    cart = np.maximum(created - rng.integers(5, 181, n), day_of * 1440)
    created = np.where(null_ts, -1, created)
    delivered = np.where(null_ts, False, rng.random(n) < 0.5)
    return OrderBatch(ids.astype(np.int64), rng.integers(1000, 10000, n), cart, created,
                      rng.integers(10000, 200001, n), rng.choice(PRODUCTS, n), delivered)


def _resend(rng, hist: OrderBatch, idx: np.ndarray) -> OrderBatch:
    """Re-sent earlier orders: same key and timestamps, changed amount and
    delivery flag (an update under MERGE)."""
    b = hist.take(idx)
    b.cents = b.cents + rng.integers(1, 5000, len(b))
    b.delivered = ~b.delivered
    return b


def _mark_malformed(rng, b: OrderBatch, share: float, cols=tuple(MALFORMED)) -> None:
    for c in cols:
        b.malformed[c] = rng.random(len(b)) < share


@dataclass
class DailyInputs:
    history: OrderBatch
    history_path: str
    dates: list[str]
    landing_paths: list[str]


def gen_daily(rng: np.random.Generator, out: str, history_rows: int, n_dates: int,
              delta_share: float = 0.005) -> DailyInputs:
    """History of ``history_rows`` orders over consecutive days (typed parquet)
    plus one raw-CSV landing file per logical date. The logical dates are the
    history's last ``n_dates`` days: the target already holds an earlier
    extract of each, so re-sent orders land as updates and the date's other
    orders as inserts. Each landing holds ~``delta_share`` of the history:
    ~30% NULL OrderCreatedAt, ~10% re-sent orders, ~0.5% malformed values per
    typed column."""
    days = max(2 * n_dates, 120)
    per_day = history_rows // days
    n_hist = per_day * days
    day_of = np.repeat(np.arange(days), per_day)
    hist = _new_orders(rng, np.arange(1, n_hist + 1), day_of, np.zeros(n_hist, bool))
    # date-ordered ids, so the table is clustered on OrderCreatedAt as loaded
    order = np.argsort(hist.created, kind="stable")
    hist = hist.take(order)
    hist.order_id = np.arange(1, n_hist + 1, dtype=np.int64)
    history_path = os.path.join(out, "history.parquet")
    pq.write_table(orders_arrow(hist), history_path)

    delta = max(20, int(history_rows * delta_share))
    n_null = int(delta * 0.3)
    n_resend = int(delta * 0.1)
    n_new = delta - n_null - n_resend
    next_id = n_hist + 1
    dates, paths = [], []
    for k in range(n_dates):
        d = days - n_dates + k
        same_day = np.nonzero(day_of == d)[0]
        resent = _resend(rng, hist, rng.choice(same_day, n_resend, replace=False))
        ids = np.arange(next_id, next_id + n_new + n_null)
        next_id += len(ids)
        is_null = np.zeros(len(ids), bool)
        is_null[rng.choice(len(ids), n_null, replace=False)] = True
        fresh = _new_orders(rng, ids, np.full(len(ids), d), is_null)
        batch = OrderBatch.concat([resent, fresh])
        batch = batch.take(rng.permutation(len(batch)))
        _mark_malformed(rng, batch, 0.005)
        run_date = (EPOCH + timedelta(days=int(d))).isoformat()
        path = os.path.join(out, f"landing_{run_date}.csv")
        write_orders_csv(batch, path, rng)
        dates.append(run_date)
        paths.append(path)
    return DailyInputs(hist, history_path, dates, paths)


# --- analytics: the TPC-H-ish star schema + events/documents/embeddings the
# registry queries are written against (schemas and value domains of the
# repository's testdata fixtures; row counts scale with ``sf``) -------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
         "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
         "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
         "value", "vector", "window"]


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, span: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + rng.integers(0, span, n).astype("timedelta64[D]"),
                    pa.timestamp("us"))


def gen_analytics(rng: np.random.Generator, out: str, sf: float) -> dict[str, int]:
    """Write the ten registry tables under ``out``; returns rows per table."""
    n_cust, n_supp = max(10, int(150_000 * sf)), max(10, int(10_000 * sf))
    n_part, n_ord = max(10, int(200_000 * sf)), max(10, int(1_500_000 * sf))
    n_line, n_ev = max(10, int(6_000_000 * sf)), max(10, int(1_000_000 * sf))
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32 = pa.int32()
    tables = {
        "region": pa.table({"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32)}),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust)}),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": np.char.add(np.char.add(rng.choice(PART_ADJ, n_part), " "),
                                  rng.choice(PART_NOUN, n_part)),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)}),
        "orders": pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord)}),
    }
    qty = rng.integers(1, 51, n_line).astype(float)
    tables["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100,
        "l_tax": rng.integers(0, 9, n_line) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, "1995-01-02", 2498, n_line)})
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    tables["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": rng.integers(0, 1500, n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    tables["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64), "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] * 0.5 + rng.normal(0, 1, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})
    for name, t in tables.items():
        # small row groups let the DuckDB oracle scan the text table in parallel
        rg = 128 if name == "documents" else None
        pq.write_table(t, os.path.join(out, f"{name}.parquet"), row_group_size=rg)
    return {name: t.num_rows for name, t in tables.items()}
