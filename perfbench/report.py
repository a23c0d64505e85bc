"""Per-layer report with tracing overhead.

``python3 perfbench/report.py [--workloads a,b] [--seeds 1,2,3] [--seconds S]``
from the repository root runs each workload untraced once per seed and
traced once (first seed), then prints, per workload, the per-layer
metrics, the span self-time table and the tracing overhead: the traced
run's ``cpu_s`` and ``setup_s`` against the untraced runs' medians.
The report is also written to ``.perfbench/traces/report.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, f"{HERE}/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, check=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seeds", default="1,2,3")
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    a = ap.parse_args(argv)
    seeds = [int(s) for s in a.seeds.split(",")]
    lines = []
    for wl in a.workloads.split(","):
        plain = [_run(wl, s, a.seconds, 0)["metrics"] for s in seeds]
        traced = _run(wl, seeds[0], a.seconds, 1)["metrics"]
        with open(os.path.join(ROOT, ".perfbench", "traces", f"{wl}-{seeds[0]}.json")) as fh:
            spans = json.load(fh)["layers"]
        lines += [f"## {wl}", "", "| metric | value | unit |", "|---|---|---|"]
        lines += [f"| {k} | {v['value']:.6g} | {v['unit']} |" for k, v in traced.items()
                  if v["value"]]
        lines += ["", "| span | calls | total ms | self ms |", "|---|---|---|---|"]
        lines += [f"| {k} | {v['calls']} | {v['total_ms']:.1f} | {v['self_ms']:.1f} |"
                  for k, v in sorted(spans.items())]
        lines += ["", "| tracing overhead | untraced median | traced | change |", "|---|---|---|---|"]
        for m in ("cpu_s", "setup_s"):
            base = statistics.median(p[m]["value"] for p in plain)
            t = traced[f"trace.{m}"]["value"]
            lines.append(f"| {m} | {base:.6g} | {t:.6g} | {100 * (t / base - 1):+.1f}% |")
        lines.append("")
    text = "\n".join(lines)
    print(text)
    with open(os.path.join(ROOT, ".perfbench", "traces", "report.md"), "w") as fh:
        fh.write(text)
    return 0


if __name__ == "__main__":
    sys.exit(main())
