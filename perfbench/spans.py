"""In-memory span recorder for the traced run.

A span is (name, start, end, parent, request id). The benchmark opens
spans around its own calls into the engine's layers, and in the traced
run only it installs wrappers on the public functions the wire server
thread and the streaming threads call (``install_wrappers``), so their
work is attributed too. Spans stay in memory and are written once, at
the end. A layer's self time is its span time minus the time its
child spans cover.
"""

from __future__ import annotations

import functools
import itertools
import json
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple] = []

    def span(self, name: str, request: str | None = None):
        if not self.enabled:
            return nullcontext()
        return self._span(name, request)

    @contextmanager
    def _span(self, name: str, request: str | None):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        if request is None and parent is not None:
            request = parent[1]
        stack.append((sid, request))
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(
                    (sid, name, t0, t1, parent[0] if parent else None, request)
                )

    # -- wrappers on engine functions (traced run only) ---------------
    def wrap(self, module, attr: str, name: str, tag=None) -> None:
        """Replace ``module.attr`` with a span-recording wrapper, in
        that module and in every engine module that imported the same
        function object by name."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            label = f"{name}.{tag(*args, **kwargs)}" if tag else name
            with self._span(label, None):
                return orig(*args, **kwargs)

        for mod in list(sys.modules.values()):
            if (
                getattr(mod, "__name__", "").startswith("peerdb_cdc_psql_psql_spark")
                and getattr(mod, attr, None) is orig
            ):
                setattr(mod, attr, wrapper)
                self._undo.append((mod, attr, orig))

    def unwrap(self) -> None:
        for mod, attr, orig in reversed(self._undo):
            setattr(mod, attr, orig)
        self._undo.clear()

    # -- reduction --------------------------------------------------------
    def layer_table(self) -> dict[str, dict]:
        """name → {calls, total_ms, self_ms}."""
        by_id = {s[0]: s for s in self.spans}
        children = defaultdict(list)
        for s in self.spans:
            if s[4] is not None and s[4] in by_id:
                children[s[4]].append((s[2], s[3]))
        out: dict[str, dict] = defaultdict(lambda: {"calls": 0, "total_ms": 0.0, "self_ms": 0.0})
        for sid, name, t0, t1, _parent, _req in self.spans:
            covered, cur_end = 0.0, t0
            for c0, c1 in sorted(children.get(sid, [])):
                c0, c1 = max(c0, cur_end), min(c1, t1)
                if c1 > c0:
                    covered += c1 - c0
                    cur_end = c1
            row = out[name]
            row["calls"] += 1
            row["total_ms"] += (t1 - t0) * 1000
            row["self_ms"] += (t1 - t0 - covered) * 1000
        return dict(out)

    def durations_ms(self, name: str) -> list[float]:
        return [(s[3] - s[2]) * 1000 for s in self.spans if s[1] == name]

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump(
                {
                    "layers": self.layer_table(),
                    "spans": [
                        {"id": s[0], "name": s[1], "start": s[2], "end": s[3],
                         "parent": s[4], "request": s[5]}
                        for s in self.spans
                    ],
                    **extra,
                },
                fh,
            )


def install_engine_wrappers(tracer: Tracer) -> None:
    """Spans around the engine's public functions that run on threads
    the benchmark does not control (wire handler, stream executor)."""
    from peerdb_cdc_psql_psql_spark import catalog
    from peerdb_cdc_psql_psql_spark.operators import sql_frontend
    from peerdb_cdc_psql_psql_spark.streaming import cdc, workload

    def verb(_spark, sql, **_kw):
        return sql.split(None, 1)[0].lower()

    tracer.wrap(catalog, "load", "catalog.load")
    tracer.wrap(workload, "allocate_lsns", "workload.allocate_lsns")
    tracer.wrap(workload, "append_events", "workload.append_events")
    tracer.wrap(sql_frontend, "execute_dml_command", "sql_frontend.dml", tag=verb)
    tracer.wrap(cdc, "_merge_batch", "cdc.add_batch")
    tracer.wrap(cdc, "read_target", "cdc.read_target")
    tracer.wrap(cdc, "compact_target", "cdc.compact")
