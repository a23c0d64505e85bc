"""``wire_cdc_mixed``: the reference's whole loop over the wire.

The engine process hosts a ``WireServer`` with a mirror environment and
runs ``CREATE MIRROR`` over the three demo tables with a 2 s sync
interval. A separate generator process (loadgen.py) writes and reads
through two persistent connections for the timed window. Afterwards,
outside the window, the benchmark waits for the mirror to apply every
WAL file, matches each acknowledged statement to the micro-batch that
applied its WAL file (from the stream checkpoint), judges every read
for freshness, and checks the merged target against the replay oracle
before and after compacting every table.

The end-to-end figure is the engine's CPU time from the opening of the
window until the mirror has applied the window's last write: the cost
of a fixed load, since the seed and the window length fix the writer's
statements and the reader's schedule. Latencies and lag are per-layer
figures of the traced run.
"""

from __future__ import annotations

import bisect
import json
import os
import subprocess
import sys
import time

import pyarrow.parquet as pq

from cdcgen import SYNC_INTERVAL_S, TABLES, SourceModel, target_rows
from common import checkpoint_batches, cpu_since, data_files, engine_cpu, median, quantile
from loadgen import apply_statement, seed_statements
from pgwire import PgConnection

MIRROR = "benchmirror"
HERE = os.path.dirname(os.path.abspath(__file__))


def _wal_files(wal: str) -> list[tuple[int, str, int, int]]:
    """(min lsn, basename, events, bytes) per WAL data file, in LSN order."""
    out = []
    for f in os.listdir(wal):
        if f.endswith(".parquet") and not f.startswith("."):
            path = os.path.join(wal, f)
            md = pq.read_metadata(path)
            stats = md.row_group(0).column(0).statistics
            out.append((int(stats.min), f, md.num_rows, os.path.getsize(path)))
    return sorted(out)


def _wait_applied(wal: str, ckpt: str, timeout: float) -> bool:
    """Wait until a committed micro-batch has applied every WAL file
    (file names only: the wait itself costs little CPU in the engine's
    process, whose CPU the run measures)."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        files = {f for f in os.listdir(wal) if f.endswith(".parquet") and not f.startswith(".")}
        fb, commits = checkpoint_batches(ckpt)
        if files and all(f in fb and fb[f] in commits for f in files):
            return True
        time.sleep(0.25)
    return False


def _dml_stats(conn) -> tuple[int, float]:
    """(calls, total ms) of INSERT/UPDATE/DELETE in pg_stat_statements."""
    rows = conn.query("SELECT query, calls, total_exec_time FROM pg_stat_statements").rows
    dml = [(int(c), float(t)) for q, c, t in rows
           if q.split(None, 1)[0].upper() in ("INSERT", "UPDATE", "DELETE")]
    return sum(c for c, _ in dml), sum(t for _, t in dml)


def _snapshot(model: SourceModel) -> dict:
    rows, dead = model.rows["orders"], model.deleted["orders"]
    return {"max_id": max(rows) if rows else None,
            "rows": {k: (int(r["quantity"]), k in dead) for k, r in rows.items()}}


def _answer_matches(read: dict, snap: dict) -> bool:
    rows = read["rows"]
    if read["kind"] == "max_id":
        return bool(rows) and rows[0][0] is not None and int(rows[0][0]) == snap["max_id"]
    if read["kind"] == "point":
        want = snap["rows"].get(read["arg"])
        if want is None:
            return not rows
        return len(rows) == 1 and (int(rows[0][1]), rows[0][2] == "t") == want
    lo = read["arg"]
    inrange = [v for k, v in snap["rows"].items() if lo <= k <= lo + 49]
    cnt, total = int(rows[0][0]), rows[0][1]
    want_sum = sum(q for q, _ in inrange) if inrange else None
    return cnt == len(inrange) and (total is None if want_sum is None else int(total) == want_sum)


def run(spark, wd: str, seed: int, seconds: float, tracer, rec) -> None:
    from peerdb_cdc_psql_psql_spark.catalog import DEMO_SCHEMAS
    from peerdb_cdc_psql_psql_spark.operators.sql_frontend import _DDL_MIRRORS
    from peerdb_cdc_psql_psql_spark.streaming.cdc import compact_target
    from peerdb_cdc_psql_psql_spark.wire import WireServer

    wal, target, ckpt_root = f"{wd}/wal", f"{wd}/target", f"{wd}/ckpt"
    ckpt = f"{ckpt_root}/{MIRROR}"
    os.makedirs(wal)
    srv = WireServer(spark, port=0, mirror_env=dict(
        schemas=DEMO_SCHEMAS, event_dir=wal, target_root=target, checkpoint_root=ckpt_root))
    port = srv.start()
    admin = PgConnection("127.0.0.1", port)
    try:
        _, seed_stmts = seed_statements(seed)
        for st in seed_stmts:
            admin.query(st["sql"])
        mapping = ", ".join(f"{t}:{t}_cdc" for t in TABLES)
        admin.query(f"CREATE MIRROR {MIRROR} WITH TABLE MAPPING ({mapping}) "
                    f"WITH (sync_interval = '{SYNC_INTERVAL_S} seconds')")
        if not _wait_applied(wal, ckpt, 60):
            raise RuntimeError("mirror did not apply the seed rows")
        query = next(q for q in spark.streams.active if q.name == f"mirror-{MIRROR}")
        stats_before = _dml_stats(admin)
        n_progress_setup = len(query.recentProgress)
        rec.e2e["setup_s"] = time.time() - rec.t_process

        # -- timed window: the generator process drives the wire -----
        log_path = f"{wd}/loadgen.json"
        cpu0 = engine_cpu()
        proc = subprocess.Popen(
            [sys.executable, f"{HERE}/loadgen.py", "--port", str(port), "--seed", str(seed),
             "--seconds", str(seconds), "--out", log_path])
        try:
            code = proc.wait(timeout=seconds + 120)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
        if code != 0:
            raise RuntimeError(f"load generator exited with {code}")
        with open(log_path) as fh:
            log = json.load(fh)

        # -- after the window: catch up, then judge --------------------
        applied = _wait_applied(wal, ckpt, 30)
        rec.check(applied, "mirror did not apply every WAL file within 30 s")
        cpu = cpu_since(cpu0)  # the window's load, through its last merge
        progress = [p for p in query.recentProgress[n_progress_setup:] if p.get("numInputRows", 0) > 0]
        stats_after = _dml_stats(admin)
    finally:
        admin.close()
        for q in spark.streams.active:
            q.stop()
        srv.stop()

    writes, reads = log["writes"], log["reads"]
    files = _wal_files(wal)
    wal_b = sum(f[3] for f in files)
    file_batch, commits = checkpoint_batches(ckpt)
    produced = [w for w in writes if w["ok"] and not w["tag"].endswith(" 0")]
    # the seed statements produced the first WAL files; the writer's
    # statements produced the rest, one file each, in LSN order
    writer_files = files[len(seed_stmts):]
    rec.check(len(writer_files) == len(produced),
              f"{len(produced)} writes produced events but {len(writer_files)} WAL files appeared")
    for w, (_lsn, f, _n, _b) in zip(produced, writer_files):
        b = file_batch.get(f)
        w["batch"] = b
        w["applied_at"] = commits.get(b)

    # replay oracle and per-batch snapshots for read freshness
    model, _ = seed_statements(seed)
    snaps = [(0.0, _snapshot(model))]
    batch_end = sorted({(w["applied_at"], w["batch"]) for w in produced if w.get("applied_at")})
    by_batch: dict = {}
    for w in writes:
        rec.check(w["ok"], f"{w['op']} {w['table']} failed: {w.get('error', '')}")
        if w["ok"]:
            by_batch.setdefault(w.get("batch"), []).append(w)
    for w in by_batch.pop(None, []):  # acknowledged but produced no event
        apply_statement(model, w["stmt"])
    for t_end, b in batch_end:
        for w in by_batch.get(b, []):
            apply_statement(model, w["stmt"])
        snaps.append((t_end, _snapshot(model)))
    mirror = _DDL_MIRRORS[MIRROR]
    read_ms_before = _check_target(spark, mirror, target, model, rec, "read")
    served = data_files(target)
    files_n, target_b = len(served), sum(os.path.getsize(p) for p in served)
    base_files = sum("/base_v" in p for p in served)
    scanned = sum(pq.read_metadata(p).num_rows for p in served)
    compact_ms = []
    for t in TABLES:
        t0 = time.perf_counter()
        try:
            compact_target(spark, mirror, t, target)
        except Exception as e:  # noqa: BLE001 — a failed operation, not a crash
            rec.check(False, f"compact_target {t}: {type(e).__name__}: {str(e)[:200]}")
            continue
        compact_ms.append((time.perf_counter() - t0) * 1000)
    base_b = sum(os.path.getsize(p) for p in data_files(target) if "/base_v" in p)
    read_ms_after = _check_target(spark, mirror, target, model, rec, "read after compaction")

    ends = [t for t, _ in snaps]
    # Reads go through the temp views the server registers once, on the
    # first unresolved-table error, with the file listing of that moment
    # (wire.py _sql_with_mirror_targets). Stale answers, and errors once
    # compaction has removed files a view still lists, are that known
    # defect: they are counted in wire.stale_reads / wire.read_errors,
    # not as failed operations, and the reader never refreshes a view.
    fresh = stale = errors = 0
    data_reads = [r for r in reads if r["kind"] != "vacuum"]
    for r in data_reads:
        lo = max(0, bisect.bisect_right(ends, r["send"]) - 1)
        hi = max(lo, bisect.bisect_right(ends, r["recv"]) - 1)
        if not r["ok"]:
            errors += 1
            print(f"READ ERROR ({r['kind']}, t+{r['send'] - log['t0']:.1f}s): {r.get('error')}",
                  file=sys.stderr)
        elif any(_answer_matches(r, snaps[i][1]) for i in range(lo, hi + 1)):
            fresh += 1
        else:
            stale += 1
    for r in reads:
        if r["kind"] == "vacuum":
            rec.check(r["ok"], "VACUUM orders failed")

    lat = [(w["ack"] - w["due"]) * 1000 for w in writes if w["ok"] and w["op"] == "I"]
    lag = [w["applied_at"] - w["ack"] for w in produced if w.get("applied_at")]
    rounds = [r["round_s"] for r in reads if "round_s" in r and r["round_ok"]]
    rec.check(bool(rounds), "no reader round answered without an error")
    read_ms = [(r["recv"] - r["send"]) * 1000 for r in data_reads if r["ok"]]
    # rows written per second of writer busy time (insert.ps1's ops/s,
    # without the pacing gaps)
    events = sum(f[2] for f in writer_files)
    busy_s = sum(w["ack"] - w["send"] for w in produced)
    rec.e2e["cpu_s"] = cpu["total"]

    rec.detail["writes"] = [(w["op"], round(w["send"] - log["t0"], 2), round(w["ack"] - w["send"], 3),
                             w.get("applied_at") and round(w["applied_at"] - w["ack"], 3))
                            for w in writes]
    rec.detail["reads"] = [(r["kind"], round(r["send"] - log["t0"], 2), round(r["recv"] - r["send"], 3),
                            r["ok"]) for r in reads]
    rec.detail["batches"] = [(p["batchId"], p["numInputRows"], p["durationMs"]) for p in progress]

    # -- per-layer figures --------------------------------------------
    L = rec.layers
    late = [(w["send"] - w["due"]) * 1000 for w in writes]
    for part in ("driver_python", "jvm", "jit", "python_workers"):
        L[f"cpu.{part}_s"] = cpu[part]
    L["wire.insert_p50_ms"] = median(lat)
    L["cdc.replication_lag_p50_s"] = median(lag)
    L["wire.reader_round_s"] = median(rounds)
    L["wire.events_per_busy_s"] = events / busy_s if busy_s else 0.0
    L["gen.late_ms_p90"] = quantile(late, 0.9)
    L["gen.ops_attempted"] = len(writes) + len(reads)
    L["gen.ops_failed"] = sum(not x["ok"] for x in writes + reads)
    for op, name in (("I", "insert"), ("U", "update"), ("D", "delete")):
        xs = [(w["ack"] - w["send"]) * 1000 for w in writes if w["ok"] and w["op"] == op]
        L[f"wire.client_{name}_ms"] = median(xs)
    L["wire.client_select_ms"] = median(read_ms)
    calls = stats_after[0] - stats_before[0]
    server_ms = (stats_after[1] - stats_before[1]) / max(1, calls)
    client_ms = [(w["ack"] - w["send"]) * 1000 for w in writes if w["ok"]]
    L["wire.server_ms"] = server_ms
    L["wire.overhead_ms"] = (sum(client_ms) / len(client_ms)) - server_ms if client_ms else 0.0
    L["wire.stale_reads"] = stale
    L["wire.read_errors"] = errors
    L["wire.fresh_reads_per_s"] = fresh / seconds
    L["workload.wal_files"], L["workload.wal_bytes"] = len(files), wal_b
    L["sql_frontend.events_out"] = sum(f[2] for f in writer_files)
    _stream_layers(L, progress)
    live = sum(len(model.rows[t]) for t in TABLES)
    L["cdc.delta_files_written"] = files_n - base_files
    L["cdc.read_target_ms"] = median(read_ms_before)
    L["cdc.files_per_read"] = files_n / len(TABLES)
    L["cdc.rows_scanned_per_row"] = scanned / max(1, live)
    L["cdc.compact_ms"] = sum(compact_ms)
    L["cdc.bytes_rewritten_per_user_byte"] = base_b / max(1, wal_b)
    L["cdc.target_bytes_per_live_row"] = target_b / max(1, live)
    L["cdc.read_after_compact_ms"] = median(read_ms_after)
    if tracer.enabled:
        for verb in ("insert", "update", "delete"):
            xs = tracer.durations_ms(f"sql_frontend.dml.{verb}")
            L[f"sql_frontend.dml_{verb}_ms"] = median(xs)
        for name in ("allocate_lsns", "append_events"):
            xs = tracer.durations_ms(f"workload.{name}")
            L[f"workload.{name}_ms"] = median(xs)


def _check_target(spark, mirror, target: str, model: SourceModel, rec, phase: str) -> list[float]:
    """Read every mirrored table's merged target in full and compare it
    with the replay oracle (one checked operation per table); returns
    the read times in ms."""
    from peerdb_cdc_psql_psql_spark.streaming.cdc import read_target

    times = []
    for table in TABLES:
        t0 = time.perf_counter()
        try:
            rows = read_target(spark, mirror, table, target).collect()
        except Exception as e:  # noqa: BLE001 — a failed operation, not a crash
            rec.check(False, f"{phase} {table}: {type(e).__name__}: {str(e)[:200]}")
            continue
        times.append((time.perf_counter() - t0) * 1000)
        got, want = target_rows(rows, table), model.expected(table)
        diff = [k for k in set(got) | set(want) if got.get(k) != want.get(k)]
        rec.check(not diff, f"{phase} {table}: {len(diff)} keys differ from replay, e.g. "
                  + ", ".join(f"{k}: got {got.get(k)} want {want.get(k)}" for k in sorted(diff)[:3]))
    return times


def _stream_layers(L: dict, progress: list[dict]) -> None:
    """Per-micro-batch figures from the stream's progress records."""
    if not progress:
        return
    add = [p["durationMs"].get("addBatch", 0) for p in progress]
    trig = [p["durationMs"]["triggerExecution"] for p in progress]
    plan = [p["durationMs"].get("queryPlanning", 0) for p in progress]
    L["cdc.batches"] = len(progress)
    L["cdc.batch_rows"] = median([p["numInputRows"] for p in progress])
    L["cdc.add_batch_ms_p50"], L["cdc.add_batch_ms_p90"] = median(add), quantile(add, 0.9)
    L["cdc.trigger_ms_p50"], L["cdc.trigger_ms_p90"] = median(trig), quantile(trig, 0.9)
    L["cdc.plan_ms"] = median(plan)
