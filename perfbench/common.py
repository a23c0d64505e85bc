"""Shared pieces: the per-run record, quantiles, result digests and
the engine-session lifecycle."""

from __future__ import annotations

import datetime as dt
import glob
import hashlib
import json
import math
import os
import statistics
import sys
import time
from dataclasses import dataclass, field
from decimal import Decimal

@dataclass
class Run:
    """What one workload run measured. ``e2e`` and ``layers`` map a
    metric name to its value; ``attempted``/``failed`` count checked
    operations, where an error or a wrong answer is a failure."""

    t_process: float  # epoch seconds at process start
    attempted: int = 0
    failed: int = 0
    e2e: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    failures: list = field(default_factory=list)
    detail: dict = field(default_factory=dict)  # written to the trace file

    def check(self, ok: bool, what: str) -> bool:
        """Count one checked operation; remember what failed."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 50:
                self.failures.append(what)
        return ok


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1]); 0.0 with no samples,
    as for ``median``."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    """Median; 0.0 when there is no sample (the run has then counted
    the failed operations that left the metric without one)."""
    return statistics.median(values) if values else 0.0


def canon(v) -> str:
    """Engine-independent text form of one result cell (Spark Row
    values and DuckDB values canonicalize alike)."""
    if v is None:
        return ""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, Decimal):
        return str(v.normalize())
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if hasattr(v, "asDict"):
        return canon(v.asDict(recursive=True))
    return str(v)


def digest(columns: list[str], rows) -> tuple[int, str]:
    """(row count, sha256) of a result, insensitive to row order and
    column order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(
        "\x1f".join(canon(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256("\x1e".join(columns[i] for i in order).encode())
    for line in lines:
        h.update(b"\x1e" + line.encode())
    return len(lines), h.hexdigest()


def repo_root() -> str:
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def start_engine():
    """Import the engine and build its session; returns (spark,
    seconds spent in ``session.get_spark``)."""
    root = repo_root()
    if root not in sys.path:
        sys.path.insert(0, root)
    from peerdb_cdc_psql_psql_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")  # cores from SPARK_GRAFT_CPUS, set by run.py
    dt_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("FATAL")
    return spark, dt_s


def stop_engine(spark) -> None:
    """Stop every stream, the session and the JVM it launched, and wait
    for the JVM process to exit."""
    from pyspark import SparkContext

    for q in spark.streams.active:
        try:
            q.stop()
        except Exception:  # noqa: BLE001 — shutting down regardless
            pass
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except (OSError, AttributeError):
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — last resort
            proc.kill()
            proc.wait(timeout=10)


def _proc_cpu_s(pid: int) -> tuple[int, float]:
    """(parent pid, user+system seconds of the process and of its reaped
    children) from /proc; (-1, 0.0) once the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return -1, 0.0
    ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return int(fields[1]), ticks / os.sysconf("SC_CLK_TCK")


def _jvm() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def _descendants(pid: int) -> list[int]:
    parents = {int(n): _proc_cpu_s(int(n))[0] for n in os.listdir("/proc") if n.isdigit()}
    tree, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parents.items() if pp == p]
        tree += kids
        frontier += kids
    return tree


def _jit_cpu_s(jvm: int) -> float:
    """CPU seconds of the JVM's live JIT compiler threads."""
    ticks = 0
    for tid in os.listdir(f"/proc/{jvm}/task"):
        try:
            with open(f"/proc/{jvm}/task/{tid}/stat") as fh:
                s = fh.read()
        except OSError:
            continue
        if s[s.index("(") + 1:].startswith(("C1 Compiler", "C2 Compiler")):
            ticks += sum(int(x) for x in s.rsplit(")", 1)[1].split()[11:13])
    return ticks / os.sysconf("SC_CLK_TCK")


def engine_cpu() -> dict:
    """CPU seconds the engine has used so far, by part: ``driver_python``
    (this process's threads: the wire server, the stream drivers, Py4J),
    ``jvm`` (the JVM, its JIT compiler threads included), ``jit`` (those
    compiler threads alone) and ``python_workers`` (every process under
    the JVM, reaped ones included). Processes this process started for
    load generation are not counted. Time the hypervisor withholds
    (steal) and time spent waiting for a core are not CPU time; a core
    slowed by other tenants still counts."""
    t = os.times()
    out = {"driver_python": t.user + t.system, "jvm": 0.0, "jit": 0.0, "python_workers": 0.0}
    jvm = _jvm()
    if jvm is not None:
        out["jvm"] = _proc_cpu_s(jvm)[1]
        out["jit"] = _jit_cpu_s(jvm)
        out["python_workers"] = sum(_proc_cpu_s(p)[1] for p in _descendants(jvm))
    return out


def cpu_since(before: dict) -> dict:
    """Per-part CPU seconds since ``before`` (an ``engine_cpu()``), and
    their ``total`` (the JIT share counted once, inside ``jvm``)."""
    now = engine_cpu()
    d = {k: now[k] - before[k] for k in now}
    d["total"] = d["driver_python"] + d["jvm"] + d["python_workers"]
    return d


def checkpoint_batches(ckpt_dir: str) -> tuple[dict, dict]:
    """Read a file-source stream checkpoint: (input file basename →
    batch id, batch id → commit time in epoch seconds). The commit
    file's mtime is when the micro-batch finished."""
    file_batch: dict[str, int] = {}
    for path in glob.glob(f"{ckpt_dir}/sources/0/*"):
        base = os.path.basename(path)
        if base.startswith("."):
            continue
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    rec = json.loads(line)
                    file_batch[os.path.basename(rec["path"])] = int(rec["batchId"])
    commits: dict[int, float] = {}
    for path in glob.glob(f"{ckpt_dir}/commits/*"):
        base = os.path.basename(path)
        if base.isdigit():
            commits[int(base)] = os.stat(path).st_mtime
    return file_batch, commits


def data_files(path: str) -> list[str]:
    """Paths of the parquet data files under ``path`` (hidden files,
    such as checksums, excluded)."""
    out = []
    for root, _dirs, files in os.walk(path):
        out += [os.path.join(root, f) for f in files
                if f.endswith(".parquet") and not f.startswith(".")]
    return out
