"""corpus_dedup: a document backlog drained through ``start_dedup_ingest``.

One file per trigger (``maxFilesPerTrigger=1``). The first
``WARMUP_CYCLES`` compaction cycles are untimed; the timed triggers are
whole cycles starting at a compaction trigger, so every run times the same
phases of the index's sawtooth. One operation is one document: it is
correct when it landed exactly once with the planted verdict.
"""

from __future__ import annotations

import collections
import os
import statistics
import threading
import time

import pyarrow.parquet as pq

import eventlog
import spec
import stats
from wl_cdc import progress


def run(r) -> dict:
    from pyspark.sql import types as T

    from aws_kinesis_spark.streaming.pipeline import read_dedup_corpus, start_dedup_ingest

    r.start_generator()
    spark = r.start_spark()
    r.wait_ready()
    w = r.work
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(w, "src"))
    )
    warm = spec.COMPACT_EVERY * spec.WARMUP_CYCLES
    q = start_dedup_ingest(
        stream,
        os.path.join(w, "index"),
        os.path.join(w, "ck"),
        threshold=spec.DEDUP_THRESHOLD,
        n_buckets=spec.N_BUCKETS,
        compact_every=spec.COMPACT_EVERY,
    )
    if r.trace:
        # CPU marks at the warm-up/timed boundary, from a watcher thread
        marker = threading.Thread(target=_mark_boundary, args=(r, q, warm - 1), daemon=True)
        marker.start()
    q.awaitTermination(150)
    if q.isActive:
        q.stop()
        raise TimeoutError("dedup ingest did not drain its backlog")
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))
    if r.trace:
        marker.join(timeout=5)
        r.mark_cpu("timed_end")
    prog = progress(q)
    by_batch = {p["batchId"]: p for p in prog}
    n_files = len([n for n in os.listdir(os.path.join(w, "src")) if n.endswith(".parquet")])
    cycles = stats.whole_cycles(by_batch, spec.COMPACT_EVERY, warm)
    timed = [b for c in cycles for b in c]
    # the timed triggers must be exactly batches warm .. n_files-1
    phase_ok = timed == list(range(warm, n_files))

    trig = [by_batch[b]["durationMs"]["triggerExecution"] for b in timed]
    timed_docs = len(timed) * spec.DOCS_PER_FILE
    docs_per_s = timed_docs / (sum(trig) / 1e3)
    setup_s = by_batch[warm]["start"] - r.t0

    got = collections.Counter()
    kept = {}
    for row in read_dedup_corpus(spark, os.path.join(w, "index")).select("doc_id", "kept").collect():
        got[row[0]] += 1
        kept[row[0]] = row[1]
    truth = pq.read_table(os.path.join(w, "truth.parquet")).to_pydict()
    ok = sum(
        1
        for d, k in zip(truth["doc_id"], truth["kept"])
        if got[d] == 1 and kept[d] == k
    )
    attempted = len(truth["doc_id"])
    tail_p = stats.highest_supported_percentile(len(trig))
    return {
        "correct": ok == attempted and phase_ok,
        "attempted": attempted,
        "ok": ok,
        "e2e": {
            "setup_s": setup_s,
            "ok_op_share": ok / attempted,
            "p50_ms": stats.percentile(trig, 50),
            "tail_ms": stats.percentile(trig, tail_p),
            "work_per_s": docs_per_s,
        },
        "detail": {
            "docs_per_s": docs_per_s,
            "trigger_p50_ms": stats.percentile(trig, 50),
            "timed_batches": [timed[0], timed[-1]],
            "cycles": len(cycles),
            "phase_ok": phase_ok,
            "trigger_ms": trig,
            "dropped": attempted - sum(truth["kept"]),
        },
        "state": {"prog": prog, "cycles": cycles, "timed": timed},
    }


def _mark_boundary(r, q, last_warm: int) -> None:
    while q.isActive:
        p = q.lastProgress
        if p is not None and p["batchId"] >= last_warm:
            break
        time.sleep(0.02)
    r.mark_cpu("timed_start")


def layer_metrics(r, result: dict, log: eventlog.EventLog) -> dict:
    from child import engine_metrics

    st = result["state"]
    by_batch = {p["batchId"]: p for p in st["prog"]}
    timed = st["timed"]
    out = {}
    trig = [by_batch[b]["durationMs"]["triggerExecution"] for b in timed]
    add = [by_batch[b]["durationMs"]["addBatch"] for b in timed]
    out["streaming.pipeline.dedup.trigger_ms"] = statistics.median(trig)
    out["streaming.pipeline.dedup.add_batch_ms"] = statistics.median(add)
    out["streaming.pipeline.dedup.bookkeeping_ms"] = statistics.median(
        t - a for t, a in zip(trig, add)
    )
    # ms added per batch since the last compaction: pooled least squares
    # over the non-compaction triggers, x = position in the cycle
    xs, ys = [], []
    for cycle in st["cycles"]:
        for pos, b in enumerate(cycle[1:], start=1):
            xs.append(pos)
            ys.append(by_batch[b]["durationMs"]["triggerExecution"])
    out["streaming.pipeline.dedup.trigger_slope_ms"] = stats.slope(xs, ys)
    out["streaming.pipeline.dedup.compaction_trigger_ms"] = statistics.median(
        by_batch[c[0]]["durationMs"]["triggerExecution"] for c in st["cycles"]
    )

    ivs = [
        eventlog.Interval(b, p["start"] * 1e3, p["end"] * 1e3, p["id"], b)
        for b, p in sorted(by_batch.items())
    ]
    eventlog.attribute_jobs(log.jobs, ivs)
    rows = []
    for iv in ivs:
        if iv.key not in timed:
            continue
        dur = by_batch[iv.key]["durationMs"]
        add_end = iv.end_ms - dur.get("commitOffsets", 0)
        rows.append(
            {
                "jobs": len(iv.jobs),
                "tasks": sum(j.tasks for j in iv.jobs),
                "driver_only": dur["addBatch"]
                - eventlog.job_union_ms(iv.jobs, add_end - dur["addBatch"], add_end),
                "shuffle": sum(j.shuffle_write_bytes for j in iv.jobs),
                # the trigger's own input file is one of the files read
                "files": log.files_read_by(iv.jobs) - 1,
                "py_ms": sum(j.python_run_ms for j in iv.jobs),
                "py_sent": sum(j.python_bytes_sent for j in iv.jobs),
                "py_ret": sum(j.python_bytes_returned for j in iv.jobs),
            }
        )

    def med(k):
        return statistics.median(x[k] for x in rows)

    out["streaming.pipeline.dedup.standing_files_read"] = med("files")
    out["operators.dedup.jobs_per_trigger"] = med("jobs")
    out["operators.dedup.tasks_per_trigger"] = med("tasks")
    out["operators.dedup.driver_only_ms_per_trigger"] = med("driver_only")
    out["operators.dedup.shuffle_bytes_per_trigger"] = med("shuffle")
    out["operators.dedup.python_udf_ms"] = med("py_ms")
    out["operators.dedup.python_bytes_sent"] = med("py_sent")
    out["operators.dedup.python_bytes_returned"] = med("py_ret")
    out["operators.dedup.python_worker_cpu_s"] = r.cpu_delta("python_worker") / len(timed)
    lo = by_batch[timed[0]]["start"] * 1e3
    hi = by_batch[timed[-1]]["end"] * 1e3
    out.update(engine_metrics(r, log, lo, hi))
    return out
