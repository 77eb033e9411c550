"""Seeded raw-zone generator for the pipeline workloads.

Writes the three ``schemas.SCHEMAS`` tables as CSV the way the reference's
landing zone holds them: ``products/products.csv`` and one file per
``date`` partition for ``orders`` and ``order_items``. Defects are injected
at fixed rates as extra rows, so no defect cascades into another table:

- malformed lines (an unparseable integer key: the reader's corrupt side);
- a null required field (``Null user_id`` / ``Null product_name``);
- ``total_amount <= 0`` on orders (``Non-positive total_amount``);
- dangling ``order_id`` / ``product_id`` on order_items;
- whole-row duplicate primary keys, which keeps the expected state
  independent of dedup tie-breaks.

Every zone comes with a ledger of the exact expected counts and the
expected curated tables (as pandas frames) after it is applied.

``scale`` is the fraction of sf1 (200k products, 1.5M orders, 4.55M
order_items). Delta batches re-send ``resend_days`` days of orders and
their items with changed values, re-send ~2% of products, add new keys
on a new date, and carry the same defect mix.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from lakehouse_architecture_spark.schemas import (
    PARTITION_COLUMNS,
    PRIMARY_KEYS as PK,
    SCHEMAS,
)

TABLES = ("products", "orders", "order_items")
COLUMNS = {name: SCHEMAS[name].fieldNames() for name in TABLES}
DEPARTMENTS = [
    "Books", "Electronics", "Home", "Clothing", "Garden", "Toys", "Sports",
    "Beauty", "Grocery", "Automotive", "Music", "Office",
]
# Rejection messages, exactly as operators.validation words them.
RULES = {
    "products": ["Null product_name"],
    "orders": ["Null user_id", "Non-positive total_amount"],
    "order_items": [
        "Null user_id", "Invalid order_id reference",
        "Invalid product_id reference",
    ],
}
DEFECT_RATE = 0.01
FIRST_DAY = np.datetime64("2025-01-01", "D")
# Key ranges that never collide with generated valid keys.
REJECT_KEY_BASE = 50_000_000
DANGLING_KEY_BASE = 90_000_000


@dataclass
class Zone:
    """One generated raw zone (the full load, or one delta batch)."""

    root: str
    n_days: int = 0
    ledger: dict = field(default_factory=dict)
    # valid rows per table (one row per key, defects excluded)
    clean: dict = field(default_factory=dict)

    def paths(self) -> dict[str, str]:
        return {
            "products": os.path.join(self.root, "products", "*.csv"),
            "orders": os.path.join(self.root, "orders", "*.csv"),
            "order_items": os.path.join(self.root, "order_items", "*.csv"),
        }

    def rows_in(self) -> int:
        return sum(t["rows_in"] for t in self.ledger.values())

    def bytes_in(self) -> int:
        total = 0
        for dirpath, _dirs, files in os.walk(self.root):
            total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
        return total


def slug(rule: str) -> str:
    """Metric-name form of a rejection message: 'Null user_id' -> 'null_user_id'."""
    return rule.lower().replace(" ", "_")


def _fmt_ts(ts: np.ndarray) -> np.ndarray:
    return np.datetime_as_string(ts.astype("datetime64[s]"), unit="s")


def _fmt_amount(cents: np.ndarray) -> np.ndarray:
    return np.char.mod("%.2f", cents / 100.0)


def _n_defects(n_rows: int) -> int:
    return max(1, round(DEFECT_RATE * n_rows))


class _Keys:
    """Hands out fresh keys for rejected rows and dangling references."""

    def __init__(self, salt: int):
        self.reject = REJECT_KEY_BASE + salt * 1_000_000
        self.dangle = DANGLING_KEY_BASE + salt * 1_000_000

    def rejected(self, n: int) -> np.ndarray:
        out = np.arange(self.reject, self.reject + n)
        self.reject += n
        return out

    def dangling(self, n: int) -> np.ndarray:
        out = np.arange(self.dangle, self.dangle + n)
        self.dangle += n
        return out


def _products_frame(ids, dept_idx, names) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "product_id": ids.astype(np.int64),
            "department_id": (dept_idx + 1).astype(np.int64),
            "department": np.asarray(DEPARTMENTS, dtype=object)[dept_idx],
            "product_name": names,
        }
    )


def _orders_frame(ids, order_num, user, ts, cents) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "order_num": order_num.astype(np.int64),
            "order_id": ids.astype(np.int64),
            "user_id": user.astype(np.int64),
            "order_timestamp": ts.astype("datetime64[us]"),
            "total_amount": cents / 100.0,
            "date": ts.astype("datetime64[D]"),
            "_cents": cents.astype(np.int64),
        }
    )


def _items_frame(ids, orders: pd.DataFrame, order_pos, product, rng) -> pd.DataFrame:
    n = len(ids)
    o = orders.iloc[order_pos]
    return pd.DataFrame(
        {
            "id": ids.astype(np.int64),
            "order_id": o["order_id"].to_numpy(),
            "user_id": o["user_id"].to_numpy(),
            "days_since_prior_order": rng.integers(0, 31, n).astype(np.int64),
            "product_id": product.astype(np.int64),
            "add_to_cart_order": rng.integers(1, 21, n).astype(np.int64),
            "reordered": rng.integers(0, 2, n).astype(np.int64),
            "order_timestamp": o["order_timestamp"].to_numpy(),
            "date": o["date"].to_numpy(),
        }
    )


def _csv_lines(name: str, df: pd.DataFrame) -> pd.DataFrame:
    """String form of each CSV field."""
    out = pd.DataFrame(index=df.index)
    for c in COLUMNS[name]:
        col = df[c]
        if c == "order_timestamp":
            out[c] = _fmt_ts(col.to_numpy())
        elif c == "date":
            out[c] = np.datetime_as_string(col.to_numpy().astype("datetime64[D]"))
        elif c == "total_amount":
            out[c] = _fmt_amount(df["_cents"].to_numpy())
        else:
            out[c] = col.astype(str).to_numpy()
    return out


def _malformed(name: str, n: int, date_strs: np.ndarray | None) -> pd.DataFrame:
    """Lines whose integer key does not parse: the reader's corrupt side.
    ``date_strs`` places them in daily files (None for products)."""
    row = {c: np.full(n, "7", dtype=object) for c in COLUMNS[name]}
    row[PK[name]] = np.array([f"#bad{k}" for k in range(n)], dtype=object)
    if date_strs is None:
        row["department"] = np.full(n, "Books", dtype=object)
        row["product_name"] = np.full(n, "broken", dtype=object)
    else:
        row["date"] = np.asarray(date_strs, dtype=object)
        row["order_timestamp"] = row["date"] + "T00:00:00"
    return pd.DataFrame(row)


def _build_table(
    name: str,
    clean: pd.DataFrame,
    defects: dict[str, pd.DataFrame],
    n_malformed: int,
    rng: np.random.Generator,
) -> tuple[pd.DataFrame, dict]:
    """Clean rows + rule defects + duplicates + malformed lines, as CSV
    strings in a seeded order, with the ledger entry for the table."""
    parts = [_csv_lines(name, clean)]
    rejected = {}
    for rule in RULES[name]:
        d = defects[rule]
        lines = _csv_lines(name, d)
        if rule.startswith("Null "):
            lines[rule[len("Null "):]] = ""
        parts.append(lines)
        rejected[rule] = len(d)
    n_dup = _n_defects(len(clean))
    dup_pos = rng.choice(len(clean), n_dup, replace=False)
    parts.append(parts[0].iloc[dup_pos])
    dates = None
    if name != "products":
        dates = parts[0]["date"].to_numpy()[rng.integers(0, len(clean), n_malformed)]
    parts.append(_malformed(name, n_malformed, dates))
    lines = pd.concat(parts, ignore_index=True)
    lines = lines.iloc[rng.permutation(len(lines))].reset_index(drop=True)
    entry = {
        "rows_in": len(lines),
        "corrupt": n_malformed,
        "duplicates": n_dup,
        "rejected": rejected,
        "accepted": len(clean),
    }
    return lines, entry


def _write_table(root: str, name: str, lines: pd.DataFrame) -> None:
    d = os.path.join(root, name)
    os.makedirs(d, exist_ok=True)
    if name == "products":
        lines.to_csv(os.path.join(d, "products.csv"), index=False)
        return
    for day, grp in lines.groupby("date", sort=True):
        grp.to_csv(os.path.join(d, f"{day}.csv"), index=False)


def _order_defects(keys: _Keys, n: int, rng, day_lo, day_hi) -> dict:
    def frame(cents):
        ts = _timestamps(rng, len(cents), day_lo, day_hi)
        ids = keys.rejected(len(cents))
        return _orders_frame(ids, rng.integers(1, 100, len(cents)),
                             rng.integers(1, 1000, len(cents)), ts, cents)

    return {
        "Null user_id": frame(rng.integers(100, 50_000, n)),
        "Non-positive total_amount": frame(-rng.integers(0, 5_000, n)),
    }


def _timestamps(rng, n, day_lo, day_hi) -> np.ndarray:
    days = FIRST_DAY + rng.integers(day_lo, day_hi, n).astype("timedelta64[D]")
    secs = rng.integers(0, 86_400, n).astype("timedelta64[s]")
    return days.astype("datetime64[s]") + secs


def _item_defects(keys, n, rng, orders, n_products) -> dict:
    def frame(count):
        pos = rng.integers(0, len(orders), count)
        prod = rng.integers(1, n_products + 1, count)
        return _items_frame(keys.rejected(count), orders, pos, prod, rng)

    null_user = frame(n)
    dangling_order = frame(n)
    dangling_order["order_id"] = keys.dangling(n)
    dangling_product = frame(n)
    dangling_product["product_id"] = keys.dangling(n)
    return {
        "Null user_id": null_user,
        "Invalid order_id reference": dangling_order,
        "Invalid product_id reference": dangling_product,
    }


def _product_defects(keys, n, rng) -> dict:
    ids = keys.rejected(n)
    return {
        "Null product_name": _products_frame(
            ids, rng.integers(0, len(DEPARTMENTS), n),
            np.array([f"Product_{i}" for i in ids], dtype=object),
        )
    }


def _emit(root, rng, keys, tables: dict[str, pd.DataFrame], ledger, n_products):
    """Write one zone: clean frames plus the defect mix for each table."""
    orders = tables["orders"]
    defects = {
        "products": _product_defects(keys, _n_defects(len(tables["products"])), rng),
        "orders": _order_defects(
            keys, _n_defects(len(orders)), rng,
            *_day_span(orders),
        ),
        "order_items": _item_defects(
            keys, _n_defects(len(tables["order_items"])), rng, orders, n_products
        ),
    }
    for name in TABLES:
        lines, entry = _build_table(
            name, tables[name], defects[name],
            _n_defects(len(tables[name])), rng,
        )
        _write_table(root, name, lines)
        ledger[name] = entry


def _day_span(orders: pd.DataFrame) -> tuple[int, int]:
    days = (orders["date"].to_numpy().astype("datetime64[D]") - FIRST_DAY).astype(int)
    return int(days.min()), int(days.max()) + 1


def _strip(df: pd.DataFrame) -> pd.DataFrame:
    return df.drop(columns=[c for c in df.columns if c.startswith("_")])


def generate_base(root: str, seed: int, scale: float, n_days: int) -> Zone:
    """The full load: every table at ``scale`` of sf1 over ``n_days``."""
    rng = np.random.default_rng(seed)
    keys = _Keys(0)
    n_p = max(50, int(200_000 * scale))
    n_o = max(100, int(1_500_000 * scale))
    n_i = max(300, int(4_550_000 * scale))
    products = _products_frame(
        np.arange(1, n_p + 1), rng.integers(0, len(DEPARTMENTS), n_p),
        np.array([f"Product_{i}_v0" for i in range(1, n_p + 1)], dtype=object),
    )
    orders = _orders_frame(
        np.arange(1, n_o + 1), rng.integers(1, 100, n_o),
        rng.integers(1, max(2, n_o // 5), n_o),
        _timestamps(rng, n_o, 0, n_days), rng.integers(100, 50_000, n_o),
    )
    items = _items_frame(
        np.arange(1, n_i + 1), orders, rng.integers(0, n_o, n_i),
        rng.integers(1, n_p + 1, n_i), rng,
    )
    zone = Zone(root, n_days)
    tables = {"products": products, "orders": orders, "order_items": items}
    _emit(root, rng, keys, tables, zone.ledger, n_p)
    zone.clean = {n: _strip(t) for n, t in tables.items()}
    zone.n_days = n_days
    return zone


def generate_batch(
    root: str, seed: int, base: Zone, state: dict, k: int, resend_days: int
) -> Zone:
    """Delta batch ``k`` (1-based) against the curated ``state`` it lands
    on: re-sent orders (changed amounts) and items (changed values) for
    ``resend_days`` days, ~2% of products re-sent renamed, and new keys
    on a new date. Returns the zone; ``zone.clean`` holds the rows the
    MERGE applies."""
    rng = np.random.default_rng([seed, k])
    keys = _Keys(k)
    n_days = base.n_days
    products, orders, items = (state[n] for n in TABLES)
    n_base_p = len(base.clean["products"])
    n_base_o = len(base.clean["orders"])
    n_base_i = len(base.clean["order_items"])

    # products: ~2% re-sent renamed (same department), ~0.5% new
    re_p = products.iloc[np.sort(rng.choice(len(products), max(1, len(products) // 50), replace=False))].copy()
    re_p["product_name"] = [f"Product_{i}_v{k}" for i in re_p["product_id"]]
    n_new_p = max(1, n_base_p // 200)
    new_ids = n_base_p + (k - 1) * n_new_p + np.arange(1, n_new_p + 1)
    new_p = _products_frame(
        new_ids, rng.integers(0, len(DEPARTMENTS), n_new_p),
        np.array([f"Product_{i}_v{k}" for i in new_ids], dtype=object),
    )
    batch_products = pd.concat([re_p, new_p], ignore_index=True)
    n_products = int(max(products["product_id"].max(), new_ids.max()))

    # orders: resend_days days re-sent with new amounts, plus new orders
    # on the day after the base span
    first = (k - 1) * resend_days % max(1, n_days - resend_days)
    day = (orders["date"].to_numpy().astype("datetime64[D]") - FIRST_DAY).astype(int)
    re_o = orders[(day >= first) & (day < first + resend_days)].copy()
    re_o["_cents"] = rng.integers(100, 50_000, len(re_o))
    re_o["total_amount"] = re_o["_cents"] / 100.0
    n_new_o = max(1, n_base_o // 300)
    new_o = _orders_frame(
        n_base_o + (k - 1) * n_new_o + np.arange(1, n_new_o + 1),
        rng.integers(1, 100, n_new_o), rng.integers(1, max(2, n_base_o // 5), n_new_o),
        _timestamps(rng, n_new_o, n_days + k - 1, n_days + k),
        rng.integers(100, 50_000, n_new_o),
    )
    batch_orders = pd.concat([re_o, new_o], ignore_index=True)

    # items: the re-sent orders' items with changed values, plus ~3
    # items per new order over old and new products
    re_i = items[items["order_id"].isin(re_o["order_id"])].copy()
    re_i["reordered"] = 1 - re_i["reordered"]
    re_i["days_since_prior_order"] = rng.integers(0, 31, len(re_i))
    n_new_i = 3 * n_new_o
    new_i = _items_frame(
        n_base_i + (k - 1) * n_new_i + np.arange(1, n_new_i + 1),
        new_o, rng.integers(0, n_new_o, n_new_i),
        rng.integers(1, n_products + 1, n_new_i), rng,
    )
    batch_items = pd.concat([re_i, new_i], ignore_index=True)

    zone = Zone(root, n_days)
    tables = {
        "products": batch_products, "orders": batch_orders,
        "order_items": batch_items,
    }
    _emit(root, rng, keys, tables, zone.ledger, n_products)
    zone.clean = {n: _strip(t) for n, t in tables.items()}
    return zone


def apply_batch(state: dict, batch: Zone) -> dict:
    """Expected curated tables after MERGE-ing ``batch`` into ``state``."""
    out = {}
    for name in TABLES:
        upd = batch.clean[name]
        cur = state[name]
        keep = cur[~cur[PK[name]].isin(upd[PK[name]])]
        out[name] = pd.concat([keep, upd], ignore_index=True)
    return out



def write_curated(state: dict, curated_base: str) -> None:
    """Write curated tables in the layout the pipeline's writer uses:
    hive-style partition directories holding parquet files typed like
    ``schemas.SCHEMAS`` (integers as INT32, UTC timestamps)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import DoubleType, IntegerType, StringType

    def arrow_type(spark_type):
        if isinstance(spark_type, IntegerType):
            return pa.int32()
        if isinstance(spark_type, DoubleType):
            return pa.float64()
        if isinstance(spark_type, StringType):
            return pa.string()
        return pa.timestamp("us", tz="UTC")

    for name in TABLES:
        part = PARTITION_COLUMNS[name]
        schema = pa.schema(
            [pa.field(f.name, arrow_type(f.dataType)) for f in SCHEMAS[name].fields
             if f.name != part]
        )
        df = state[name]
        keys = df[part].astype(str) if name == "products" else pd.Series(
            np.datetime_as_string(df[part].to_numpy().astype("datetime64[D]")),
            index=df.index,
        )
        for value, grp in df.groupby(keys, sort=True):
            d = os.path.join(curated_base, name, f"{part}={value}")
            os.makedirs(d, exist_ok=True)
            table = pa.Table.from_pydict(
                {f.name: pa.array(grp[f.name].to_numpy()).cast(f.type) for f in schema},
                schema=schema,
            )
            pq.write_table(table, os.path.join(d, "part-00000.parquet"))
