"""Seeded change model for ``wire_cdc_mixed``, and the replay oracle
the mirror target is checked against.

The source model is the reference's demo schema (customers, products,
orders). ``SourceModel`` tracks what the source tables hold; every
change is produced through it, so replaying the accepted changes in
order gives the expected mirror target: one row per key, a deleted
row keeping its last known values with ``_is_deleted`` set.
"""

from __future__ import annotations

import datetime as dt
import random
from decimal import Decimal

TABLES = ("customers", "products", "orders")
SYNC_INTERVAL_S = 2  # the mirror's trigger interval
WRITE_INTERVAL_S = 2.25  # writer pacing: 0.44 statements/s, well under half busy
DATA_COLS = {
    "customers": ("first_name", "last_name", "email"),
    "products": ("name", "description", "weight"),
    "orders": ("order_date", "purchaser", "quantity", "product_id"),
}
_BASE_DATE = dt.date(2024, 1, 1)


class SourceModel:
    """Current source rows per table: key → (row dict, deleted flag).
    Keys are kept in insertion order so Zipf ranks can address them."""

    def __init__(self):
        self.rows: dict[str, dict[int, dict]] = {t: {} for t in TABLES}
        self.deleted: dict[str, set[int]] = {t: set() for t in TABLES}
        self.keys: dict[str, list[int]] = {t: [] for t in TABLES}
        self.next_id = {t: 1 for t in TABLES}

    # -- row synthesis ------------------------------------------------
    def new_row(self, rng: random.Random, table: str) -> dict:
        k = self.next_id[table]
        self.next_id[table] += 1
        if table == "customers":
            return {"id": k, "first_name": f"first_{k}", "last_name": f"last_{k}",
                    "email": f"user{k}@example.com"}
        if table == "products":
            return {"id": k, "name": f"product_{k}", "description": f"description {k}",
                    "weight": f"{rng.randint(1, 9999) / 100:.2f}"}
        n_cust = max(1, self.next_id["customers"] - 1)
        n_prod = max(1, self.next_id["products"] - 1)
        return {
            "id": k,
            "order_date": (_BASE_DATE - dt.timedelta(days=rng.randint(0, 30))).isoformat(),
            "purchaser": rng.randint(1, n_cust),
            "quantity": rng.randint(1, 99),
            "product_id": rng.randint(1, n_prod),
        }

    def new_values(self, rng: random.Random, table: str) -> dict:
        """SET list of an UPDATE (one or two columns)."""
        if table == "orders":
            return {"quantity": rng.randint(1, 99)}
        if table == "customers":
            return {"email": f"changed{rng.randint(1, 10**6)}@example.com"}
        return {"weight": f"{rng.randint(1, 9999) / 100:.2f}"}

    def zipf_key(self, rng: random.Random, table: str) -> int | None:
        """A live key, Zipf-skewed (P(rank r) ~ 1/r) toward the oldest
        keys; None when the table has no live key."""
        keys = self.keys[table]
        for _ in range(8):
            if not keys:
                return None
            r = int(len(keys) ** rng.random())  # log-uniform rank, 1..n
            k = keys[min(r, len(keys)) - 1]
            if k not in self.deleted[table]:
                return k
        live = [k for k in keys if k not in self.deleted[table]]
        return rng.choice(live) if live else None

    def uniform_key(self, rng: random.Random, table: str) -> int | None:
        keys = self.keys[table]
        for _ in range(8):
            if not keys:
                return None
            k = rng.choice(keys)
            if k not in self.deleted[table]:
                return k
        return None

    # -- applying changes (the replay rules) ----------------------------
    def apply(self, op: str, table: str, key: int, values: dict | None) -> None:
        if op == "I":
            self.rows[table][key] = dict(values)
            self.deleted[table].discard(key)
            self.keys[table].append(key)
        elif op == "U":
            self.rows[table][key] = {**self.rows[table][key], **values}
        elif op == "D":
            self.deleted[table].add(key)
        else:
            raise ValueError(op)

    def expected(self, table: str) -> dict[int, tuple]:
        """key → normalized (data values..., deleted) for the target."""
        return {
            k: (*(_norm(c, row.get(c)) for c in DATA_COLS[table]),
                k in self.deleted[table])
            for k, row in self.rows[table].items()
        }


def _norm(col: str, v) -> str:
    if v is None:
        return ""
    if col == "weight":
        return f"{Decimal(str(v)):.2f}"
    if isinstance(v, (dt.date, dt.datetime)):
        return v.isoformat()[:10]
    return str(v)


def target_rows(rows, table: str) -> dict[int, tuple]:
    """Normalize ``read_target`` rows the same way as ``expected``."""
    return {
        int(r["id"]): (*(_norm(c, r[c]) for c in DATA_COLS[table]),
                       bool(r["_is_deleted"]))
        for r in rows
    }
