"""Load generator for ``wire_cdc_mixed``: one process, two persistent
Postgres-protocol connections.

* writer (open loop): a statement falls due every ``WRITE_INTERVAL_S``
  from a seeded offset, against the mirrored source tables, in a fixed
  cycle of kinds: two thirds multi-row INSERTs of 250 orders (a fixed
  batch size, as in the reference's insert.ps1), the rest single-key
  UPDATEs on Zipf-skewed keys and DELETEs. The number of statements is
  fixed by the window length, not by the offset, so every run of a
  window length does the same amount of writing. Each statement
  records when it was due, sent and acknowledged. The mirror triggers
  on epoch multiples of ``SYNC_INTERVAL_S``, and eight write intervals
  span nine trigger cycles, so the due times fall on eight evenly
  spaced phases of the trigger cycle.
* reader (open loop, one round due every ``READ_EVERY_S``): SELECTs
  against the mirror targets (max(id), a point read by key, a small
  range), and ``VACUUM orders`` after the first round due past each
  multiple of ``VACUUM_EVERY_S``. A round that falls behind starts as
  soon as the previous one ends. Each read records its due, send and
  receive times and its answer.

Run: ``python3 perfbench/loadgen.py --port P --seed S --seconds N
--out log.json``. Writes the log as JSON and exits 0.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from cdcgen import SYNC_INTERVAL_S, WRITE_INTERVAL_S, SourceModel  # noqa: E402
from pgwire import PgConnection, PgError  # noqa: E402

VACUUM_EVERY_S = 10.0
READ_EVERY_S = 2.5  # one reader round due per interval, as a dashboard refresh
# nine kinds against eight trigger phases: each kind visits every phase
CYCLE = ("insert", "insert", "update", "insert", "insert", "delete", "insert", "insert",
         "dim_update")
INSERT_ROWS = 250


def _lit(v) -> str:
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return str(v)


def _values_sql(table: str, rows: list[dict]) -> str:
    cols = list(rows[0])
    tuples = ",".join("(" + ", ".join(_lit(r[c]) for c in cols) + ")" for r in rows)
    return f"INSERT INTO {table} ({', '.join(cols)}) VALUES {tuples}"


def n_due(seconds: float, first_due_max: float, every: float) -> int:
    """How many events due every ``every`` seconds, the first at most
    ``first_due_max`` into the window, fit inside a window of ``seconds``."""
    return max(1, int((seconds - first_due_max) // every) + 1)


def seed_statements(seed: int) -> tuple[SourceModel, list[dict]]:
    """The set-up rows every run starts from (applied to a fresh model):
    50 customers, 20 products, 500 orders, one INSERT per table."""
    rng = random.Random(f"seed-rows-{seed}")
    model = SourceModel()
    stmts = []
    for table, n in (("customers", 50), ("products", 20), ("orders", 500)):
        rows = [model.new_row(rng, table) for _ in range(n)]
        for r in rows:
            model.apply("I", table, r["id"], r)
        stmts.append({"sql": _values_sql(table, rows), "op": "I", "table": table,
                      "rows": rows})
    return model, stmts


def next_statement(rng: random.Random, model: SourceModel, kind: str) -> dict:
    """The writer's next statement of the given kind; the model is
    updated when the statement is acknowledged, not here."""
    if kind in ("update", "delete", "dim_update"):
        table = "orders" if kind != "dim_update" else rng.choice(["customers", "products"])
        key = (model.zipf_key if kind != "delete" else model.uniform_key)(rng, table)
        if key is not None:
            if kind == "delete":
                return {"sql": f"DELETE FROM {table} WHERE id = {key}", "op": "D",
                        "table": table, "key": key}
            sets = model.new_values(rng, table)
            body = ", ".join(f"{c} = {_lit(v)}" for c, v in sets.items())
            return {"sql": f"UPDATE {table} SET {body} WHERE id = {key}", "op": "U",
                    "table": table, "key": key, "values": sets}
    rows = [model.new_row(rng, "orders") for _ in range(INSERT_ROWS)]
    return {"sql": _values_sql("orders", rows), "op": "I", "table": "orders", "rows": rows}


def apply_statement(model: SourceModel, st: dict) -> None:
    if st["op"] == "I":
        for r in st["rows"]:
            model.apply("I", st["table"], r["id"], r)
    else:
        model.apply(st["op"], st["table"], st["key"], st.get("values"))


class Generator:
    def __init__(self, port: int, seed: int, seconds: float):
        self.port, self.seconds = port, seconds
        self.rng = random.Random(f"writer-{seed}")
        self.read_rng = random.Random(f"reader-{seed}")
        self.model, _ = seed_statements(seed)
        self.lock = threading.Lock()
        self.writes: list[dict] = []
        self.reads: list[dict] = []
        self.recent_keys: list[int] = []

    def writer(self, t0: float) -> None:
        conn = PgConnection("127.0.0.1", self.port)
        try:
            start = t0 + self.rng.random() * SYNC_INTERVAL_S
            for i in range(n_due(self.seconds, SYNC_INTERVAL_S, WRITE_INTERVAL_S)):
                due = start + i * WRITE_INTERVAL_S
                with self.lock:
                    st = next_statement(self.rng, self.model, CYCLE[i % len(CYCLE)])
                now = time.time()
                if due > now:
                    time.sleep(due - now)
                send = time.time()
                rec = {"due": due, "send": send, "op": st["op"], "table": st["table"],
                       "sql_len": len(st["sql"])}
                try:
                    res = conn.query(st["sql"])
                    rec.update(ack=time.time(), tag=res.tag, ok=True)
                    with self.lock:
                        apply_statement(self.model, st)
                        if st["op"] == "U" and st["table"] == "orders":
                            self.recent_keys.append(st["key"])
                except (PgError, OSError) as e:
                    rec.update(ack=time.time(), tag="", ok=False, error=str(e)[:300])
                rec["stmt"] = {k: v for k, v in st.items() if k != "sql"}
                self.writes.append(rec)
        finally:
            conn.close()

    def reader(self, t0: float) -> None:
        conn = PgConnection("127.0.0.1", self.port)
        rng = self.read_rng
        next_vacuum = t0 + VACUUM_EVERY_S
        try:
            for i in range(n_due(self.seconds, READ_EVERY_S, READ_EVERY_S)):
                due = t0 + (i + 1) * READ_EVERY_S - READ_EVERY_S / 2
                now = time.time()
                if due > now:
                    time.sleep(due - now)
                with self.lock:
                    n_orders = len(self.model.keys["orders"])
                    recent = self.recent_keys[-20:]
                point = rng.choice(recent) if recent else rng.randint(1, n_orders)
                lo = rng.randint(1, max(1, n_orders - 50))
                probes = [
                    ("max_id", "SELECT max(id) FROM orders_cdc", None),
                    ("point", f"SELECT id, quantity, _is_deleted FROM orders_cdc WHERE id = {point}", point),
                    ("range", "SELECT count(*), sum(quantity) FROM orders_cdc "
                              f"WHERE id BETWEEN {lo} AND {lo + 49}", lo),
                ]
                for kind, sql, arg in probes:
                    send = time.time()
                    try:
                        res = conn.query(sql)
                        self.reads.append({"kind": kind, "arg": arg, "due": due, "send": send,
                                           "recv": time.time(), "rows": res.rows, "ok": True})
                    except (PgError, OSError) as e:
                        self.reads.append({"kind": kind, "arg": arg, "due": due, "send": send,
                                           "recv": time.time(), "rows": [], "ok": False,
                                           "error": str(e)[:300]})
                self.reads[-1]["round_s"] = time.time() - due
                self.reads[-1]["round_ok"] = all(r["ok"] for r in self.reads[-3:])
                if due >= next_vacuum:
                    send = time.time()
                    ok = True
                    try:
                        conn.query("VACUUM orders")
                    except (PgError, OSError):
                        ok = False
                    self.reads.append({"kind": "vacuum", "arg": None, "due": next_vacuum,
                                       "send": send, "recv": time.time(), "rows": [], "ok": ok})
                    next_vacuum += VACUUM_EVERY_S
        finally:
            conn.close()

    def run(self) -> dict:
        t0 = time.time() + 0.05
        threads = [threading.Thread(target=f, args=(t0,)) for f in (self.writer, self.reader)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return {"t0": t0, "end": time.time(), "writes": self.writes, "reads": self.reads}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    log = Generator(a.port, a.seed, a.seconds).run()
    with open(a.out, "w") as fh:
        json.dump(log, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
