"""Benchmark launcher: ``python3 perfbench/run.py --workload NAME
--seed N --seconds S --trace 0|1``, run from the repository root.

Each run gets its own working directory under ``.perfbench/runs/``
(WAL, targets, checkpoints, ``spark-warehouse``, Spark local dirs and
temp files), deleted when the run ends. The engine runs ``local[nproc]``
with the driver heap set through ``SPARK_GRAFT_DRIVER_MEM``. The last
line of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics untraced, the
per-layer metrics traced). A traced run also writes its spans and
per-layer table to ``.perfbench/traces/``.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from common import Run, repo_root  # noqa: E402

WORKLOADS = ("wire_cdc_mixed", "llm_curation")
DRIVER_MEM = "4g"


def _spec() -> dict:
    with open(os.path.join(repo_root(), "BENCHMARK.json")) as fh:
        return json.load(fh)


def _prepare(workdir: str) -> None:
    """Per-run working directory, temp roots and engine settings; must
    run before pyspark starts its JVM."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(workdir, sub))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    # no /tmp/hsperfdata_* file: the JVM writes nothing outside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={workdir}/tmp -XX:-UsePerfData"
    os.chdir(workdir)  # spark-warehouse/ and bucketed index tables land here


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its streams, server and JVM (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = repo_root()
    if not os.path.isdir(os.path.join(root, "peerdb_cdc_psql_psql_spark")):
        print("engine package not found next to perfbench/", file=sys.stderr)
        return 2
    spec = _spec()
    state = os.path.join(root, ".perfbench")
    workdir = os.path.join(state, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    _prepare(workdir)

    from spans import Tracer

    import common

    rec = Run(T_PROCESS)
    tracer = Tracer(bool(args.trace))
    spark = None
    try:
        fixture = None
        if args.workload == "llm_curation":
            from fixture import ensure_fixture

            fixture = ensure_fixture(os.path.join(state, "fixture"))
        spark, get_spark_s = common.start_engine()
        rec.layers["session.get_spark_s"] = get_spark_s
        spark.range(1000).selectExpr("sum(id)").collect()  # JVM warm-up job
        if args.trace:
            from spans import install_engine_wrappers

            install_engine_wrappers(tracer)
        if args.workload == "wire_cdc_mixed":
            import wl_wire as wl
        else:
            import wl_curation as wl
        kwargs = {"fixture": fixture} if fixture else {}
        wl.run(spark, workdir, args.seed, args.seconds, tracer, rec, **kwargs)
    except Exception:  # noqa: BLE001 — report, clean up, exit non-zero
        traceback.print_exc()
        return 1
    finally:
        tracer.unwrap()
        if spark is not None:
            common.stop_engine(spark)
        os.chdir(root)
        shutil.rmtree(workdir, ignore_errors=True)

    if args.trace:
        names = [(m["name"], m["unit"]) for m in spec["per_layer"]]
        values = rec.layers
        values["trace.spans"] = len(tracer.spans)
        values["trace.cpu_s"], values["trace.setup_s"] = rec.e2e["cpu_s"], rec.e2e["setup_s"]
        os.makedirs(os.path.join(state, "traces"), exist_ok=True)
        tracer.dump(
            os.path.join(state, "traces", f"{args.workload}-{args.seed}.json"),
            {"workload": args.workload, "seed": args.seed, "e2e": rec.e2e,
             "layers_metrics": rec.layers, "detail": rec.detail},
        )
    else:
        names = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
        values = rec.e2e
    missing = [n for n, _ in names if n not in values and not args.trace]
    if missing:
        print(f"workload did not measure {missing}", file=sys.stderr)
        return 1
    for f in rec.failures:
        print(f"FAILED: {f}", file=sys.stderr)
    print(json.dumps({
        "correct": rec.failed == 0,
        "attempted": rec.attempted,
        "failed": rec.failed,
        "metrics": {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in names},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
