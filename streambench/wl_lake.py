"""lake_serve: reads beside writes on the lake and the IVF index, one client.

Set-up lands ``LAKE_SETUP_FLUSHES`` fixed ``run_lake_batch`` flushes (zone
maps on ``id``) and builds an IVF index over seeded Gaussian-mixture
vectors. Then a fixed seeded sequence of operations runs in a closed loop:
reads (zone-pruned point lookups, incremental deltas, latest-per-key,
ad-hoc SQL, kNN probes) with a write after every ``WRITE_EVERY`` reads
(flush + zone-map update, IVF append, compaction). The class counts are
fixed; the seed picks the order, the keys, the ranges and the query
vectors. Every read is checked against DuckDB over the generator's truth,
every probe returns k rows per query with recall@10 at or above the floor.
"""

from __future__ import annotations

import os
import re
import statistics
import time

import duckdb
import numpy as np
import pyarrow.parquet as pq

import eventlog
import gen
import spec
import stats

READ_COLS = ["id", "op", "status", "sequence_number"]


def op_sequence(seed: int, n_ops: int) -> list[str]:
    """``n_ops`` operations: a write after every WRITE_EVERY reads (writes
    rotate through WRITE_CYCLE), reads in fixed class counts, seeded order."""
    rng = np.random.default_rng(seed + 7919)
    n_writes = n_ops // (spec.WRITE_EVERY + 1)
    n_reads = n_ops - n_writes
    quotas = [(name, share * n_reads) for name, share in spec.READ_MIX]
    counts = {name: int(q) for name, q in quotas}
    for name, q in sorted(quotas, key=lambda x: x[1] - int(x[1]), reverse=True):
        if sum(counts.values()) < n_reads:
            counts[name] += 1
    reads = [name for name, _ in spec.READ_MIX for _ in range(counts[name])]
    reads = [reads[i] for i in rng.permutation(len(reads))]
    ops, w = [], 0
    for i, name in enumerate(reads, start=1):
        ops.append(name)
        if i % spec.WRITE_EVERY == 0 and w < n_writes:
            ops.append(spec.WRITE_CYCLE[w % len(spec.WRITE_CYCLE)])
            w += 1
    return ops


def _leaf_files(lake: str) -> list[int]:
    counts = []
    for dirpath, dirs, files in os.walk(os.path.join(lake, "data")):
        if not dirs:
            counts.append(sum(1 for f in files if f.endswith(".parquet")))
    return counts


class Serve:
    def __init__(self, r, spark):
        self.r, self.spark, self.w = r, spark, r.work
        self.stage = os.path.join(self.w, "stage")
        self.lake = os.path.join(self.w, "lake")
        self.idx = os.path.join(self.w, "ivf")
        self.rng = np.random.default_rng(r.seed)
        t = pq.read_table(os.path.join(self.w, "truth.parquet")).to_pandas()
        self.truth = t[~t["corrupt"]].drop(columns=["corrupt"]).rename(columns={"tag": "b"})
        self.db = duckdb.connect()
        self.db.register("truth", self.truth)
        self.n_flushed = 0
        self.n_appended = 0
        vec = pq.read_table(os.path.join(self.stage, "vectors_base.parquet")).to_pandas()
        self.vec_ids = vec["vec_id"].to_numpy()
        self.vecs = np.stack(vec["embedding"].to_numpy())
        self.queries = pq.read_table(os.path.join(self.stage, "queries.parquet")).to_pandas()
        self.n_probes = 0
        self.records: list[dict] = []  # one per operation
        self.input_bytes = 0

    # -- writes -------------------------------------------------------------
    def flush(self) -> dict:
        from aws_kinesis_spark.sources.lake import (
            register_lake_table,
            run_lake_batch,
            update_zone_maps,
        )

        b = self.n_flushed
        path = os.path.join(self.stage, f"flush{b:04d}.parquet")
        t0 = time.time()
        env = self.spark.read.parquet(path)
        st = run_lake_batch(env, self.lake, batch_id=b, files_per_partition=spec.LAKE_FILES_PER_PARTITION)
        t1 = time.time()
        update_zone_maps(self.spark, self.lake, [spec.ZONE_COL])
        t2 = time.time()
        register_lake_table(self.spark, "lake", self.lake)
        self.n_flushed += 1
        self.input_bytes += os.path.getsize(path)
        n_valid = int((self.truth["b"] == b).sum())
        ok = st.n_ok == n_valid and st.n_error == spec.CORRUPT_PER_FILE
        return {"ok": ok, "spans": {"run_lake_batch": (t0, t1), "update_zone_maps": (t1, t2)}}

    def compact(self) -> dict:
        from aws_kinesis_spark.sources.lake import (
            compact_lake,
            register_lake_table,
            update_zone_maps,
        )

        t0 = time.time()
        compact_lake(self.spark, self.lake)
        t1 = time.time()
        update_zone_maps(self.spark, self.lake, [spec.ZONE_COL])
        register_lake_table(self.spark, "lake", self.lake)
        return {"ok": max(_leaf_files(self.lake)) == 1, "spans": {"compact_lake": (t0, t1)}}

    def ivf_update(self) -> dict:
        from aws_kinesis_spark.operators.ivf_index import update_ivf_index

        i = self.n_appended
        path = os.path.join(self.stage, f"vectors_append{i:04d}.parquet")
        t0 = time.time()
        got = update_ivf_index(self.spark.read.parquet(path), self.idx)
        t1 = time.time()
        new = pq.read_table(path).to_pandas()
        self.vec_ids = np.concatenate([self.vec_ids, new["vec_id"].to_numpy()])
        self.vecs = np.concatenate([self.vecs, np.stack(new["embedding"].to_numpy())])
        self.n_appended += 1
        return {"ok": got == i + 1, "spans": {"update_ivf_index": (t0, t1)}}

    # -- reads ----------------------------------------------------------------
    def _check(self, rows, sql: str, params) -> bool:
        want = self.db.execute(sql, params).fetchall()
        got = [tuple(str(v) if k == 3 else v for k, v in enumerate(r)) for r in rows]
        return sorted(got) == sorted(want)

    def point(self) -> dict:
        from aws_kinesis_spark.sources.lake import read_zone_pruned

        top = self.n_flushed * gen.LAKE_BLOCK
        key = int(self.rng.integers(top))
        t0 = time.time()
        df = read_zone_pruned(self.spark, self.lake, spec.ZONE_COL, key, key).select(*READ_COLS)
        t1 = time.time()
        rows = df.collect()
        t2 = time.time()
        ok = self._check(
            rows,
            "SELECT id, op, status, seq FROM truth WHERE b < ? AND id = ?",
            [self.n_flushed, key],
        )
        rec = {"ok": ok, "spans": {"plan": (t0, t1), "exec": (t1, t2)}}
        if self.r.trace:
            files = df.inputFiles()
            rec["files"] = len(files)
            rec["scanned"] = sum(pq.ParquetFile(_local(f)).metadata.num_rows for f in files)
            rec["returned"] = len(rows)
        return rec

    def incremental(self) -> dict:
        from aws_kinesis_spark.sources.lake import read_incremental

        last = self.n_flushed - 1
        after = int(self.rng.integers(-1, last))
        upto = min(last, after + 2)
        t0 = time.time()
        rows = read_incremental(self.spark, self.lake, after, upto).select(*READ_COLS).collect()
        t1 = time.time()
        ok = self._check(
            rows,
            "SELECT id, op, status, seq FROM truth WHERE b > ? AND b <= ?",
            [after, upto],
        )
        return {"ok": ok, "spans": {"read_incremental": (t0, t1)}}

    def sql(self) -> dict:
        q = "SELECT op, status, count(*) AS n, count(DISTINCT id) AS k FROM {} {} GROUP BY op, status"
        t0 = time.time()
        rows = self.spark.sql(q.format("lake", "")).collect()
        t1 = time.time()
        want = self.db.execute(q.format("truth", "WHERE b < ?"), [self.n_flushed]).fetchall()
        ok = sorted(tuple(r) for r in rows) == sorted(want)
        return {"ok": ok, "spans": {"sql": (t0, t1)}}

    def apply_cdc(self) -> dict:
        from aws_kinesis_spark.operators.upsert import apply_cdc

        t0 = time.time()
        rows = (
            apply_cdc(self.spark.table("lake"), ["id"], "sequence_number")
            .select("id", "status")
            .collect()
        )
        t1 = time.time()
        want = self.db.execute(
            """SELECT id, status FROM (
                 SELECT id, op, status, row_number() OVER (
                   PARTITION BY id ORDER BY CAST(seq AS HUGEINT) DESC) AS rn
                 FROM truth WHERE b < ?) WHERE rn = 1 AND op <> 'D'""",
            [self.n_flushed],
        ).fetchall()
        ok = sorted(tuple(r) for r in rows) == sorted(want)
        return {"ok": ok, "spans": {"apply_cdc": (t0, t1)}}

    def probe(self) -> dict:
        from pyspark.sql import types as T

        from aws_kinesis_spark.operators.ivf_index import knn_ivf_indexed

        lo = self.n_probes * spec.PROBE_QUERIES
        qp = self.queries.iloc[lo : lo + spec.PROBE_QUERIES].rename(columns={"vec_id": "query_id"})
        self.n_probes += 1
        qdf = self.spark.createDataFrame(
            qp,
            T.StructType(
                [
                    T.StructField("query_id", T.LongType()),
                    T.StructField("embedding", T.ArrayType(T.FloatType())),
                ]
            ),
        )
        t0 = time.time()
        res = knn_ivf_indexed(self.spark, self.idx, qdf, k=spec.KNN_K, nprobe=spec.IVF_NPROBE)
        t1 = time.time()
        rows = res.collect()
        t2 = time.time()
        q = np.stack(qp["embedding"].to_numpy()).astype(np.float64)
        v = self.vecs.astype(np.float64)
        sims = (q / np.linalg.norm(q, axis=1, keepdims=True)) @ (
            v / np.linalg.norm(v, axis=1, keepdims=True)
        ).T
        got: dict[int, set] = {}
        for row in rows:
            got.setdefault(row["query_id"], set()).add(row["neighbor_id"])
        recalls = []
        ok = True
        for k, qid in enumerate(qp["query_id"]):
            exact = set(self.vec_ids[np.argsort(-sims[k], kind="stable")[: spec.KNN_K]].tolist())
            ann = got.get(int(qid), set())
            ok = ok and len(ann) == spec.KNN_K
            recalls.append(len(ann & exact) / spec.KNN_K)
        recall = sum(recalls) / len(recalls)
        rec = {"ok": ok and recall >= spec.RECALL_FLOOR, "recall": recall,
               "spans": {"plan": (t0, t1), "exec": (t1, t2)}}
        if self.r.trace:
            plan = res._jdf.queryExecution().optimizedPlan().toString()
            # partition pruning opens exactly the cells in the scan's IN list
            rec["cells"] = max(
                (len(m.split(",")) for m in re.findall(r"cell#\d+ IN \(([^)]*)\)", plan)),
                default=0,
            )
            rec["scans"] = plan.count("] parquet")
        return rec

    def do(self, name: str, timed: bool) -> None:
        rec = getattr(self, name)()
        spans = rec["spans"]
        rec.update(
            op=name,
            timed=timed,
            start=min(s for s, _ in spans.values()),
            end=max(e for _, e in spans.values()),
        )
        self.records.append(rec)


def _local(path: str) -> str:
    from urllib.parse import unquote, urlparse

    return unquote(urlparse(path).path) if "://" in path else path


def run(r) -> dict:
    from aws_kinesis_spark.operators.ivf_index import build_ivf_index

    r.start_generator()
    spark = r.start_spark()
    r.wait_ready()
    s = Serve(r, spark)
    for _ in range(spec.LAKE_SETUP_FLUSHES):
        s.do("flush", timed=False)
    build_ivf_index(
        spark.read.parquet(os.path.join(s.stage, "vectors_base.parquet")),
        s.idx,
        nlist=spec.IVF_NLIST,
    )
    n_timed = int(round(spec.OPS_PER_SECOND * r.seconds))
    for name in op_sequence(r.seed, spec.WARMUP_OPS):
        s.do(name, timed=False)
    setup_s = time.time() - r.t0
    r.mark_cpu("timed_start")
    for name in op_sequence(r.seed + 1, n_timed):
        s.do(name, timed=True)
    r.mark_cpu("timed_end")

    timed = [x for x in s.records if x["timed"]]
    lat = [(x["end"] - x["start"]) * 1e3 for x in timed]
    wall = timed[-1]["end"] - timed[0]["start"]
    ok = sum(1 for x in s.records if x["ok"])
    tail_p = stats.highest_supported_percentile(len(lat))

    def class_p50(name):
        v = [(x["end"] - x["start"]) * 1e3 for x in timed if x["op"] == name]
        return stats.percentile(v, 50)

    return {
        "correct": ok == len(s.records),
        "attempted": len(s.records),
        "ok": ok,
        "e2e": {
            "setup_s": setup_s,
            "ok_op_share": ok / len(s.records),
            "p50_ms": stats.percentile(lat, 50),
            "tail_ms": stats.percentile(lat, tail_p),
            "work_per_s": len(timed) / wall,
        },
        "detail": {
            "ops_per_s": len(timed) / wall,
            "timed_ops": len(timed),
            "tail_percentile": tail_p,
            **{f"{c}_p50_ms": class_p50(c) for c in sorted({x["op"] for x in timed})},
            "failed_ops": [x["op"] for x in s.records if not x["ok"]],
        },
        "state": {"serve": s, "window": (timed[0]["start"], timed[-1]["end"])},
    }


def layer_metrics(r, result: dict, log: eventlog.EventLog) -> dict:
    from child import engine_metrics

    s = result["state"]["serve"]
    timed = [x for x in s.records if x["timed"]]
    ivs = [
        eventlog.Interval((k, name), a * 1e3, b * 1e3)
        for k, x in enumerate(s.records)
        for name, (a, b) in x["spans"].items()
    ]
    eventlog.attribute_jobs(log.jobs, ivs)
    by_key = {iv.key: iv for iv in ivs}
    index = {id(x): k for k, x in enumerate(s.records)}

    def span_ms(x, name):
        a, b = x["spans"][name]
        return (b - a) * 1e3

    def med(op, fn):
        vals = [fn(x) for x in timed if x["op"] == op]
        return statistics.median(vals) if vals else 0.0

    def jobs(x, name):
        return by_key[(index[id(x)], name)].jobs

    out = {
        "sources.lake.point_plan_ms": med("point", lambda x: span_ms(x, "plan")),
        "sources.lake.point_exec_ms": med("point", lambda x: span_ms(x, "exec")),
        "sources.lake.point_files_opened": med("point", lambda x: x["files"]),
        "sources.lake.rows_scanned_per_row_returned": sum(
            x["scanned"] for x in timed if x["op"] == "point"
        ) / max(1, sum(x["returned"] for x in timed if x["op"] == "point")),
        "sources.lake.run_lake_batch_ms": med("flush", lambda x: span_ms(x, "run_lake_batch")),
        "sources.lake.update_zone_maps_ms": med("flush", lambda x: span_ms(x, "update_zone_maps")),
        "sources.lake.flush_jobs": med("flush", lambda x: len(jobs(x, "run_lake_batch"))),
        "sources.lake.flush_tasks": med(
            "flush", lambda x: sum(j.tasks for j in jobs(x, "run_lake_batch"))
        ),
        "sources.lake.flush_executor_cpu_ms": med(
            "flush", lambda x: sum(j.executor_cpu_ms for j in jobs(x, "run_lake_batch"))
        ),
        "sources.lake.flush_driver_only_ms": med(
            "flush",
            lambda x: stats.self_time(
                tuple(t * 1e3 for t in x["spans"]["run_lake_batch"]),
                [(j.submit_ms, j.end_ms) for j in jobs(x, "run_lake_batch")],
            ),
        ),
        "sources.lake.read_incremental_ms": med(
            "incremental", lambda x: span_ms(x, "read_incremental")
        ),
        "sources.lake.sql_ms": med("sql", lambda x: span_ms(x, "sql")),
        "sources.lake.compact_lake_ms": med("compact", lambda x: span_ms(x, "compact_lake")),
        "sources.lake.files_per_leaf": statistics.mean(_leaf_files(s.lake)),
        "sources.lake.bytes_per_input_byte": sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(os.path.join(s.lake, "data"))
            for f in fs
            if f.endswith(".parquet")
        ) / s.input_bytes,
        "operators.upsert.apply_cdc_ms": med("apply_cdc", lambda x: span_ms(x, "apply_cdc")),
        "operators.ivf_index.probe_plan_ms": med("probe", lambda x: span_ms(x, "plan")),
        "operators.ivf_index.probe_exec_ms": med("probe", lambda x: span_ms(x, "exec")),
        "operators.ivf_index.cells_opened_per_probe": med("probe", lambda x: x["cells"]),
        "operators.ivf_index.scans_per_probe": med("probe", lambda x: x["scans"]),
        "operators.ivf_index.update_ms": med(
            "ivf_update", lambda x: span_ms(x, "update_ivf_index")
        ),
        "operators.ivf_index.python_udf_ms": med(
            "ivf_update", lambda x: sum(j.python_run_ms for j in jobs(x, "update_ivf_index"))
        ),
        "operators.ivf_index.recall_at_10": statistics.mean(
            x["recall"] for x in s.records if x["op"] == "probe"
        ),
    }
    lo, hi = result["state"]["window"]
    out.update(engine_metrics(r, log, lo * 1e3, hi * 1e3))
    return out
