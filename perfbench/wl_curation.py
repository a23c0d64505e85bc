"""``llm_curation``: execution-heavy LLM-data operators, one client.

Each pass copies the fixture to a fresh directory (so schema memos and
shared indexes are rebuilt, as for a new corpus), runs the operator
list in a seeded order through ``registry.REGISTRY[name].fn`` and
``collect()``, then drains the exact-dedup and near-dup streams over a
prepared ingest directory and reads their output. Outside the window,
every pass's results are checked: each operator's against DuckDB
running its oracle SQL, and the stream outputs against the distinct
texts and document counts of the ingest. An operator or drain that
raises is a failed operation; the run goes on.

A run makes a fixed number of passes for its window length (one at
30 s). The end-to-end figure is the engine's CPU time per pass; pass
and operator wall times are per-layer figures of the traced run.
"""

from __future__ import annotations

import os
import random
import shutil
import time

from common import cpu_since, digest, engine_cpu, median

OPS = (
    "text_suite", "tfidf_top_terms", "exact_substr_spans", "similarity_topk_cosine",
    "part_cooccurrence", "simhash_adaptive_bands",
    "multimodal_png_decode", "multimodal_jpeg_decode", "multimodal_wav_decode",
    "multimodal_flac_decode",
)
STREAM_OPS = ("dedup_stream", "neardup_stream")
PASS_S = 25  # about how long one pass takes on 4 cores; sets the passes per run


def _write_ingest(spark, fixture: str, ingest: str) -> tuple[set[str], dict]:
    """Documents striped into 3 batches of 4 files; batches 2 and 3
    re-send a third of the previous batch under new ids (exact
    duplicates). The near-dup stream reads the first batch only
    (``ingest``/near), the exact-dedup stream all three. Returns the
    distinct texts and the document counts per stream."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{fixture}/documents.parquet")
    n = docs.count()
    third = n // 3
    for i in range(3):
        batch = docs.filter((F.col("doc_id") >= i * third) & (F.col("doc_id") < (i + 1) * third))
        if i > 0:
            resend = docs.filter(
                (F.col("doc_id") >= i * third - third // 3) & (F.col("doc_id") < i * third)
            ).withColumn("doc_id", F.col("doc_id") + 1_000_000 * i)
            batch = batch.unionByName(resend)
        batch.repartition(4).write.mode("append").parquet(f"{ingest}/all")
        if i == 0:
            batch.repartition(4).write.parquet(f"{ingest}/near")
    rows = spark.read.parquet(f"{ingest}/all").select("text").collect()
    n_near = spark.read.parquet(f"{ingest}/near").count()
    return {r["text"] for r in rows}, {"dedup_stream": len(rows), "neardup_stream": n_near}


def _exec_counters(spark, group: str) -> dict:
    """Jobs, stages, tasks and shuffle bytes Spark ran under a job group."""
    sc = spark.sparkContext
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    tasks = shuffle = 0
    store = sc._jsc.sc().statusStore()
    for s in stages:
        info = st.getStageInfo(s)
        if info is not None:
            tasks += info.numTasks
        try:
            data = store.lastStageAttempt(s)
            shuffle += data.shuffleWriteBytes()
        except Exception:  # noqa: BLE001 — stage not in the store (skipped)
            pass
    return {"jobs": len(jobs), "stages": len(stages), "tasks": tasks, "shuffle": shuffle}


def _plan_ms(df) -> float:
    """Analysis + optimization + planning time from the query's
    planning tracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.values().iterator()
    total = 0
    while it.hasNext():
        total += it.next().durationMs()
    return float(total)


def _warm_up(spark, ingest: str, wd: str) -> None:
    """Start the Python worker pool (Arrow path) and drain the exact-dedup
    stream once over the first ingest batch, so whichever operator or
    drain comes first in a pass does not pay the process's one-off
    start-up costs: the Py4J callback server ``foreachBatch`` needs, and
    the loaded classes and generated code of the dedup path (without
    this drain, a pass's dedup drain ran about 30% slower whenever it
    came before the near-dup drain)."""
    from peerdb_cdc_psql_psql_spark.streaming.dedup_stream import start_incremental_dedup

    spark.range(64).mapInPandas(lambda it: it, "id long").collect()
    start_incremental_dedup(spark, f"{ingest}/near", f"{wd}/warmup-out", f"{wd}/warmup-ckpt",
                            max_files_per_trigger=4).awaitTermination()


def _drain(spark, kind: str, ingest: str, out: str, ckpt: str):
    from peerdb_cdc_psql_psql_spark.streaming.dedup_stream import (
        read_unique, start_incremental_dedup)
    from peerdb_cdc_psql_psql_spark.streaming.neardup_stream import (
        read_labels, start_neardup_clustering)

    t0 = time.time()
    if kind == "dedup_stream":
        q = start_incremental_dedup(spark, f"{ingest}/all", out, ckpt, max_files_per_trigger=4)
    else:
        q = start_neardup_clustering(spark, f"{ingest}/near", out, ckpt, max_files_per_trigger=4)
    q.awaitTermination()
    t1 = time.time()
    progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
    reader = read_unique if kind == "dedup_stream" else read_labels
    return t0, t1, progress, reader(spark, out).collect()


def run(spark, wd: str, seed: int, seconds: float, tracer, rec, fixture: str) -> None:
    import peerdb_cdc_psql_psql_spark.operators  # noqa: F401 — fills the registry
    from peerdb_cdc_psql_psql_spark.registry import REGISTRY

    ingest = f"{wd}/ingest"
    texts, n_ingest = _write_ingest(spark, fixture, ingest)
    _warm_up(spark, ingest, wd)
    rng = random.Random(f"curation-{seed}")
    rec.e2e["setup_s"] = time.time() - rec.t_process

    passes: list[dict] = []
    results: dict[str, list] = {}
    # a fixed number of passes for the window length, so every run of a
    # window length does the same work
    for i in range(max(1, round(seconds / PASS_S))):
        sf = f"{wd}/pass{i}/sf"
        shutil.copytree(fixture, sf)
        order = list(OPS + STREAM_OPS)
        rng.shuffle(order)
        p = {"ops": {},
             "build": 0.0, "eager": 0.0, "collect": 0.0, "plan": 0.0, "decode": 0.0,
             "exec": {"jobs": 0, "stages": 0, "tasks": 0, "shuffle": 0}, "stream": {}}
        t_pass = time.time()
        cpu0 = engine_cpu()
        for name in order:
            group = f"perfbench-{name}-{i}"
            spark.sparkContext.setJobGroup(group, name)
            t0 = time.perf_counter()
            try:
                if name in STREAM_OPS:
                    with tracer.span(name, request=group):
                        d0, d1, progress, rows = _drain(
                            spark, name, ingest, f"{wd}/pass{i}/{name}", f"{wd}/pass{i}/{name}-ckpt")
                    p["stream"][name] = (n_ingest[name] / (d1 - d0), len(progress), d1 - d0)
                    results.setdefault(name, []).append(rows)
                else:
                    q = REGISTRY[name]
                    with tracer.span("operators.build", request=group):
                        df = q.fn(spark, sf)
                    t1 = time.perf_counter()
                    with tracer.span("exec.collect", request=group):
                        rows = df.collect()
                    t2 = time.perf_counter()
                    p["eager" if q.eager_build else "build"] += (t1 - t0) * 1000
                    p["collect"] += (t2 - t1) * 1000
                    if name.startswith("multimodal_"):
                        p["decode"] += (t2 - t0) * 1000
                    results.setdefault(name, []).append((df.columns, rows))  # digested later
                    if tracer.enabled:
                        p["plan"] += _plan_ms(df)
            except Exception as e:  # noqa: BLE001 — a failed operation, not a crash
                rec.check(False, f"{name} (pass {i}): {type(e).__name__}: {str(e)[:200]}")
                continue
            p["ops"][name] = (time.perf_counter() - t0) * 1000
            if tracer.enabled:
                for k, v in _exec_counters(spark, group).items():
                    p["exec"][k] += v
        spark.sparkContext.setJobGroup("perfbench-idle", "idle")
        p["pass_s"] = time.time() - t_pass
        p["cpu"] = cpu_since(cpu0)
        passes.append(p)

    _check(spark, REGISTRY, fixture, results, texts, n_ingest, rec)
    rec.detail["op_ms_per_pass"] = [p["ops"] for p in passes]

    def streamed(name, key):
        return [p["stream"][name][key] for p in passes if name in p["stream"]]

    rec.e2e["cpu_s"] = median([p["cpu"]["total"] for p in passes])
    L = rec.layers

    def per_pass(key):
        return median([p[key] for p in passes])

    for part in ("driver_python", "jvm", "jit", "python_workers"):
        L[f"cpu.{part}_s"] = median([p["cpu"][part] for p in passes])
    L["curation.pass_s"] = per_pass("pass_s")
    L["curation.op_p50_ms"] = median([ms for p in passes for ms in p["ops"].values()])
    L["neardup_stream.drain_s"] = median(streamed("neardup_stream", 2))
    L["operators.build_ms"] = per_pass("build")
    L["operators.eager_build_ms"] = per_pass("eager")
    L["exec.collect_ms"] = per_pass("collect")
    L["exec.plan_ms"] = per_pass("plan")
    L["codecs.decode_ms"] = per_pass("decode")
    for k in ("jobs", "stages", "tasks"):
        L[f"exec.{k}"] = median([p["exec"][k] for p in passes])
    L["exec.shuffle_bytes"] = median([p["exec"]["shuffle"] for p in passes])
    for name in STREAM_OPS:
        L[f"{name}.docs_per_s"] = median(streamed(name, 0))
        L[f"{name}.batches"] = median(streamed(name, 1))
    if tracer.enabled:
        loads = tracer.durations_ms("catalog.load")
        L["catalog.load_calls"] = len(loads) / len(passes)
        L["catalog.load_ms"] = sum(loads) / len(passes)


def _check(spark, registry, fixture, results, texts, n_ingest, rec) -> None:
    """Outside the window: every pass's operator results against DuckDB
    running the operator's oracle SQL, and the stream outputs against
    the ingest."""
    import duckdb

    con = duckdb.connect()
    for f in sorted(os.listdir(fixture)):
        con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{fixture}/{f}')")
    for name in OPS:
        try:
            cur = con.execute(registry[name].oracle)
            want = digest([c[0] for c in cur.description], cur.fetchall())
        except Exception as e:  # noqa: BLE001 — no oracle SQL, or DuckDB rejected it
            rec.check(False, f"{name}: oracle failed: {type(e).__name__}: {e}")
            continue
        for columns, rows in results.get(name, []):
            got = digest(columns, rows)
            rec.check(got == want, f"{name}: {got} != oracle {want}")
    for rows in results.get("dedup_stream", []):
        uniq = {r["text"] for r in rows}
        rec.check(len(rows) == len(uniq) and uniq == texts,
                  f"dedup_stream: {len(rows)} unique docs, want {len(texts)}")
    want = n_ingest["neardup_stream"]
    for rows in results.get("neardup_stream", []):
        rec.check(len(rows) == want, f"neardup_stream: {len(rows)} labels, want {want}")
    con.close()
