"""cdc_stream: the reference's own traffic, open loop then a burst.

Pre-generated 500-record envelope files are renamed into one source at the
pinned offered rate; ``start_lake_path`` and ``start_alert_path`` run
back-to-back on it. A fixed backlog burst follows. One operation is one
published file: it is correct when every valid record of it landed in the
lake exactly once, every corrupt one under ``errors/``, every valid ``D``
record in the alert sink exactly once, and the manifest of the batch that
read it counts what its files' footers hold.
"""

from __future__ import annotations

import collections
import json
import os
import statistics
import time
from datetime import datetime, timezone

import pyarrow.parquet as pq

import eventlog
import gen
import spec
import stats


def _touch(path: str) -> None:
    open(path, "w").close()


def source_files(ck: str) -> dict[str, int]:
    """file name -> batch id, from the file source's log in a checkpoint."""
    d = os.path.join(ck, "sources", "0")
    out: dict[str, int] = {}
    if not os.path.isdir(d):
        return out
    for name in os.listdir(d):
        if name.startswith("."):
            continue
        try:
            with open(os.path.join(d, name)) as fh:
                lines = fh.read().splitlines()
        except FileNotFoundError:  # compacted away between listdir and open
            continue
        for line in lines[1:]:
            try:
                entry = json.loads(line)
            except ValueError:
                continue
            out[os.path.basename(entry["path"])] = entry["batchId"]
    return out


def committed(ck: str) -> set[int]:
    d = os.path.join(ck, "commits")
    return {int(n) for n in os.listdir(d) if n.isdigit()} if os.path.isdir(d) else set()


def progress(q) -> list[dict]:
    """Progress of every trigger that did work, as plain dicts with the
    trigger's start and end in epoch seconds."""
    out = []
    for p in q.recentProgress:
        d = json.loads(p.json)
        dur = d.get("durationMs", {})
        if "addBatch" not in dur:
            continue
        start = (
            datetime.strptime(d["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
            .replace(tzinfo=timezone.utc)
            .timestamp()
        )
        d["start"] = start
        d["end"] = start + dur["triggerExecution"] / 1e3
        out.append(d)
    return out


def _wait_done(queries, files, timeout: float = 90.0, poll: float = 0.05) -> None:
    deadline = time.time() + timeout
    files = set(files)
    pending = list(queries)
    while pending:
        q, ck = pending[0]
        if not q.isActive:
            raise RuntimeError(f"stream stopped: {q.exception()}")
        m = source_files(ck)
        done = committed(ck)
        if all(f in m and m[f] in done for f in files):
            pending.pop(0)
            continue
        if time.time() > deadline:
            raise TimeoutError("stream did not consume its input in time")
        time.sleep(poll)


def _wait_file(path: str, timeout: float = 120.0) -> None:
    deadline = time.time() + timeout
    while not os.path.exists(path):
        if time.time() > deadline:
            raise TimeoutError(f"no {os.path.basename(path)}")
        time.sleep(0.1)


def run(r) -> dict:
    from aws_kinesis_spark.streaming.pipeline import (
        envelope_stream,
        start_alert_path,
        start_lake_path,
    )

    r.start_generator()
    spark = r.start_spark()
    r.wait_ready()
    w = r.work
    src, lake, ctl = (os.path.join(w, d) for d in ("src", "lake", "ctl"))
    ck_lake, ck_alert = os.path.join(w, "ck_lake"), os.path.join(w, "ck_alert")
    lake_q = start_lake_path(
        envelope_stream(spark, src, max_files_per_trigger=spec.LAKE_MAX_FILES_PER_TRIGGER),
        lake, ck_lake, available_now=False, trigger_seconds=0,
    )
    alert_q = start_alert_path(
        envelope_stream(spark, src), ck_alert, "alerts",
        available_now=False, trigger_seconds=0,
    )
    both = [(lake_q, ck_lake), (alert_q, ck_alert)]
    names = gen.cdc_file_names(r.seconds)
    for i, name in enumerate(names["warm"]):
        _touch(os.path.join(ctl, f"warm-{i}"))
        _wait_done(both, [name], poll=0.01)
    setup_s = time.time() - r.t0

    r.mark_cpu("timed_start")
    t_go = time.time()
    _touch(os.path.join(ctl, "go"))
    _wait_file(os.path.join(ctl, "open_done"))
    _wait_done(both, names["lead"] + names["timed"])
    _touch(os.path.join(ctl, "burst"))
    _wait_file(os.path.join(ctl, "burst_done"))
    _wait_done(both, names["burst"])
    t_end = time.time()
    r.mark_cpu("timed_end")

    lake_prog, alert_prog = progress(lake_q), progress(alert_q)
    lake_q.stop()
    alert_q.stop()
    alerts = [str(x[0]) for x in spark.table("alerts").select("sequence_number").collect()]

    with open(os.path.join(w, "publish.jsonl")) as fh:
        publish = {e["file"]: e for e in map(json.loads, fh)}
    lake_map, alert_map = source_files(ck_lake), source_files(ck_alert)
    manifests = _manifests(lake)
    commit_at = {b: m["mtime"] for b, m in manifests.items()}
    alert_end = {p["batchId"]: p["end"] for p in alert_prog}

    land = [(commit_at[lake_map[f]] - publish[f]["due"]) * 1e3 for f in names["timed"]]
    alert = [(alert_end[alert_map[f]] - publish[f]["due"]) * 1e3 for f in names["timed"]]
    burst_batches = {lake_map[f] for f in names["burst"]}
    burst_due = publish[names["burst"][0]]["due"]
    burst_valid = len(names["burst"]) * (spec.RECORDS_PER_FILE - spec.CORRUPT_PER_FILE)
    drain_per_s = burst_valid / (max(commit_at[b] for b in burst_batches) - burst_due)

    ok_files, all_files = _verify(w, lake, manifests, alerts, lake_map, publish)
    timed_lake = {lake_map[f] for f in names["timed"]}
    per_batch = collections.Counter(lake_map[f] for f in names["timed"])
    tail_p = stats.highest_supported_percentile(len(land))
    return {
        "correct": ok_files == all_files,
        "attempted": all_files,
        "ok": ok_files,
        "e2e": {
            "setup_s": setup_s,
            "ok_op_share": ok_files / all_files,
            "p50_ms": stats.percentile(land, 50),
            "tail_ms": stats.percentile(land, tail_p),
            "work_per_s": drain_per_s,
        },
        "detail": {
            "land_p50_ms": stats.percentile(land, 50),
            f"land_p{tail_p:g}_ms": stats.percentile(land, tail_p),
            "alert_p50_ms": stats.percentile(alert, 50),
            f"alert_p{tail_p:g}_ms": stats.percentile(alert, tail_p),
            "drain_per_s": drain_per_s,
            "latency_samples": len(land),
            "lake_trigger_p50_ms": statistics.median(
                p["durationMs"]["triggerExecution"] for p in lake_prog if p["batchId"] in timed_lake
            ),
            "lake_files_per_trigger_p50": statistics.median(per_batch.values()),
            "generator_late_max_ms": max(
                (e["at"] - e["due"]) * 1e3 for e in publish.values()
            ),
        },
        "state": {
            "lake_prog": lake_prog,
            "alert_prog": alert_prog,
            "lake_map": lake_map,
            "alert_map": alert_map,
            "publish": publish,
            "names": names,
            "window": (t_go, t_end),
        },
    }


def _manifests(lake: str) -> dict[int, dict]:
    out = {}
    mdir = os.path.join(lake, "_manifests")
    for name in os.listdir(mdir):
        if name.startswith("manifest-") and name.endswith(".json"):
            path = os.path.join(mdir, name)
            with open(path) as fh:
                m = json.load(fh)
            m["mtime"] = os.stat(path).st_mtime
            out[m["batchId"]] = m
    return out


def _verify(w, lake, manifests, alerts, lake_map, publish) -> tuple[int, int]:
    truth = pq.read_table(os.path.join(w, "truth.parquet")).to_pylist()
    landed = collections.Counter()
    bad_batches = set()
    for b, m in manifests.items():
        files = [e["url"] for e in m["entries"]]
        rows = 0
        for f in files:
            t = pq.read_table(f, columns=["sequence_number"])
            rows += t.num_rows
            landed.update(str(x) for x in t.column(0).to_pylist())
        if rows != m["recordCount"]:
            bad_batches.add(b)
    errors = collections.Counter()
    err_root = os.path.join(lake, "errors")
    for dirpath, _dirs, files in os.walk(err_root):
        for f in files:
            if f.endswith(".parquet"):
                t = pq.read_table(os.path.join(dirpath, f), columns=["sequence_number"])
                errors.update(str(x) for x in t.column(0).to_pylist())
    alerted = collections.Counter(alerts)
    ok_by_file: dict[str, bool] = {}
    for rec in truth:
        f = rec["tag"]
        if f not in publish:
            continue
        seq = rec["seq"]
        if rec["corrupt"]:
            good = errors[seq] == 1 and landed[seq] == 0 and alerted[seq] == 0
        else:
            good = (
                landed[seq] == 1
                and errors[seq] == 0
                and alerted[seq] == (1 if rec["op"] == "D" else 0)
            )
        good = good and lake_map.get(f) not in bad_batches
        ok_by_file[f] = ok_by_file.get(f, True) and good
    return sum(ok_by_file.values()), len(publish)


def layer_metrics(r, result: dict, log: eventlog.EventLog) -> dict:
    from child import engine_metrics

    st = result["state"]
    names, publish, lake_map = st["names"], st["publish"], st["lake_map"]
    timed = set(names["timed"])
    lake_prog, alert_prog = st["lake_prog"], st["alert_prog"]
    timed_lake = {lake_map[f] for f in timed}
    burst_lake = {lake_map[f] for f in names["burst"]}

    out = {}
    for tag, prog, batches in (
        ("lake", lake_prog, timed_lake),
        ("alert", alert_prog, {st["alert_map"][f] for f in timed}),
    ):
        sel = [p for p in prog if p["batchId"] in batches]
        trig = [p["durationMs"]["triggerExecution"] for p in sel]
        add = [p["durationMs"]["addBatch"] for p in sel]
        out[f"streaming.pipeline.{tag}.trigger_ms"] = statistics.median(trig)
        out[f"streaming.pipeline.{tag}.add_batch_ms"] = statistics.median(add)
        out[f"streaming.pipeline.{tag}.bookkeeping_ms"] = statistics.median(
            t - a for t, a in zip(trig, add)
        )
        st[f"{tag}_timed"] = sel

    per_batch = collections.Counter(lake_map.values())
    out["streaming.pipeline.lake.files_per_trigger"] = statistics.median(
        per_batch[b] for b in burst_lake
    )
    backlog = []
    for p in st["lake_timed"]:
        backlog.append(
            sum(
                1
                for f, e in publish.items()
                if e["at"] <= p["start"] and lake_map.get(f, -1) >= p["batchId"]
            )
        )
    out["streaming.pipeline.lake.backlog_files_max"] = max(backlog)

    lake_iv = [
        eventlog.Interval(("lake", p["batchId"]), p["start"] * 1e3, p["end"] * 1e3, p["id"], p["batchId"])
        for p in lake_prog
    ]
    alert_iv = [
        eventlog.Interval(("alert", p["batchId"]), p["start"] * 1e3, p["end"] * 1e3, p["id"], p["batchId"])
        for p in alert_prog
    ]
    eventlog.attribute_jobs(log.jobs, lake_iv + alert_iv)
    flush = []
    for iv, p in zip(lake_iv, lake_prog):
        if p["batchId"] not in timed_lake:
            continue
        dur = p["durationMs"]
        add_end = iv.end_ms - dur.get("commitOffsets", 0)
        add_start = add_end - dur["addBatch"]
        flush.append(
            (
                len(iv.jobs),
                sum(j.tasks for j in iv.jobs),
                sum(j.executor_cpu_ms for j in iv.jobs),
                dur["addBatch"] - eventlog.job_union_ms(iv.jobs, add_start, add_end),
            )
        )
    for k, name in enumerate(("flush_jobs", "flush_tasks", "flush_executor_cpu_ms", "flush_driver_only_ms")):
        out[f"sources.lake.{name}"] = statistics.median(x[k] for x in flush)
    alert_timed = {p["batchId"] for p in st["alert_timed"]}
    cpu_ms = sum(
        j.executor_cpu_ms
        for iv, p in zip(alert_iv, alert_prog)
        if p["batchId"] in alert_timed
        for j in iv.jobs
    )
    records = sum(p["numInputRows"] for p in st["alert_timed"])
    out["sources.envelope.decode_cpu_us_per_record"] = cpu_ms * 1e3 / max(records, 1)
    lo, hi = st["window"]
    out.update(engine_metrics(r, log, lo * 1e3, hi * 1e3))
    return out
