"""Input generator: one single-threaded process per run.

    python3 gen.py <workload> <seed> <seconds> <work_dir>

During set-up it writes every input file of the run into ``<work_dir>/stage``
(or the dedup source) together with the generator's truth, then creates
``<work_dir>/ctl/ready``. For ``cdc_stream`` it stays alive and, on the
engine process's signals, only renames staged files into the source:

- ``ctl/warm-<i>``: publish warm-up file i (closed loop);
- ``ctl/go``: publish the lead-in and timed files at the pinned offered
  rate, each at ``t0 + i / rate`` whatever the engine is doing;
- ``ctl/burst``: publish the burst files all at once.

Each publish is logged to ``publish.jsonl`` with its scheduled and actual
time, so latency counts from when a file was due.
"""

from __future__ import annotations

import base64
import json
import os
import sys
import time
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import spec

ENVELOPE = pa.schema(
    [
        ("data", pa.binary()),
        ("partition_key", pa.string()),
        ("sequence_number", pa.decimal128(38, 0)),
        ("arrival_ts", pa.timestamp("us", tz="UTC")),
    ]
)
SEQ_BASE = 10**29  # 30-digit sequence numbers, as the reference's
TS_BASE_US = 1_700_000_000_000_000


def cdc_file_names(seconds: float) -> dict[str, list[str]]:
    """Staged file names per phase; the timed count is a pure function of
    the pinned rate and ``seconds``."""
    n_timed = int(round(spec.OFFERED_FILES_PER_S * seconds))
    return {
        "warm": [f"w{i:04d}.parquet" for i in range(spec.WARMUP_FILES)],
        "lead": [f"l{i:04d}.parquet" for i in range(spec.LEAD_FILES)],
        "timed": [f"t{i:04d}.parquet" for i in range(n_timed)],
        "burst": [f"b{i:04d}.parquet" for i in range(spec.BURST_FILES)],
    }


class EnvelopeWriter:
    """Seeded CDC envelope records with Zipf keys, an I/U/D mix and a fixed
    count of corrupt records per file. Keeps the truth of every record."""

    def __init__(self, rng: np.random.Generator):
        self.rng = rng
        self.seq = 0
        self.truth: list[tuple] = []

    def records(self, ids: np.ndarray, ops: list[str], n_corrupt: int):
        n = len(ids)
        bad = set(self.rng.choice(n, size=n_corrupt, replace=False).tolist())
        statuses = self.rng.choice(spec.STATUSES, size=n)
        rows = []
        for k in range(n):
            self.seq += 1
            key, op, status = int(ids[k]), ops[k], str(statuses[k])
            if k in bad:
                # alternate undecodable base64 and valid base64 of non-JSON
                payload = (
                    f"%%corrupt-{self.seq}%%".encode()
                    if self.seq % 2
                    else base64.b64encode(f"not json {self.seq}".encode())
                )
            else:
                payload = base64.b64encode(
                    json.dumps(
                        {"data": {"id": key, "status": status}, "metadata": {"op": op}}
                    ).encode()
                )
            rows.append((payload, key, op, status, self.seq, k in bad))
        return rows

    def write(self, path: str, rows, tag) -> None:
        table = pa.table(
            [
                [r[0] for r in rows],
                [f"sales-orders-{r[1]}" for r in rows],
                pa.array([Decimal(SEQ_BASE + r[4]) for r in rows], pa.decimal128(38, 0)),
                pa.array([TS_BASE_US + r[4] * 1000 for r in rows], pa.timestamp("us", tz="UTC")),
            ],
            schema=ENVELOPE,
        )
        pq.write_table(table, path)
        for r in rows:
            self.truth.append((tag, str(SEQ_BASE + r[4]), r[1], r[2], r[3], r[5]))

    def write_truth(self, path: str) -> None:
        cols = list(zip(*self.truth))
        pq.write_table(
            pa.table(
                {
                    "tag": pa.array(cols[0]),
                    "seq": pa.array(cols[1]),
                    "id": pa.array(cols[2], pa.int64()),
                    "op": pa.array(cols[3]),
                    "status": pa.array(cols[4]),
                    "corrupt": pa.array(cols[5]),
                }
            ),
            path,
        )


def _zipf_ids(rng, n):
    return (rng.zipf(spec.ZIPF_A, size=n) - 1) % spec.KEY_SPACE


def _ops(rng, n):
    names = [o for o, _ in spec.OP_MIX]
    probs = [p for _, p in spec.OP_MIX]
    return [str(o) for o in rng.choice(names, size=n, p=probs)]


def gen_cdc(seed: int, seconds: float, work: str) -> None:
    rng = np.random.default_rng(seed)
    stage = os.path.join(work, "stage")
    os.makedirs(stage, exist_ok=True)
    os.makedirs(os.path.join(work, "src"), exist_ok=True)
    w = EnvelopeWriter(rng)
    names = cdc_file_names(seconds)
    for phase in ("warm", "lead", "timed", "burst"):
        for name in names[phase]:
            n = spec.RECORDS_PER_FILE
            rows = w.records(_zipf_ids(rng, n), _ops(rng, n), spec.CORRUPT_PER_FILE)
            w.write(os.path.join(stage, name), rows, name)
    w.write_truth(os.path.join(work, "truth.parquet"))


def _wait_for(path: str, deadline: float) -> None:
    while not os.path.exists(path):
        if time.time() > deadline:
            raise TimeoutError(f"generator: no {os.path.basename(path)} signal")
        time.sleep(0.005)


def publish_cdc(seconds: float, work: str) -> None:
    """The timed-window role: renames only."""
    stage, src, ctl = (os.path.join(work, d) for d in ("stage", "src", "ctl"))
    names = cdc_file_names(seconds)
    deadline = time.time() + 170
    with open(os.path.join(work, "publish.jsonl"), "w") as log:

        def publish(name: str, due: float) -> None:
            os.rename(os.path.join(stage, name), os.path.join(src, name))
            log.write(json.dumps({"file": name, "due": due, "at": time.time()}) + "\n")
            log.flush()

        for i, name in enumerate(names["warm"]):
            _wait_for(os.path.join(ctl, f"warm-{i}"), deadline)
            publish(name, time.time())
        _wait_for(os.path.join(ctl, "go"), deadline)
        t0 = time.time() + 0.05
        for i, name in enumerate(names["lead"] + names["timed"]):
            due = t0 + i / spec.OFFERED_FILES_PER_S
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            publish(name, due)
        open(os.path.join(ctl, "open_done"), "w").close()
        _wait_for(os.path.join(ctl, "burst"), deadline)
        due = time.time()
        for name in names["burst"]:
            publish(name, due)
    open(os.path.join(ctl, "burst_done"), "w").close()


# ---- corpus_dedup --------------------------------------------------------


def shingle_set(text: str, n: int = 3) -> set:
    """Token 3-gram shingles over single-space tokens (the engine's rule)."""
    t = text.split(" ")
    return {" ".join(t[i : i + n]) for i in range(len(t) - n + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a or b else 0.0


def dedup_files(seconds: float) -> int:
    cycles = max(1, int(seconds // spec.SECONDS_PER_CYCLE))
    return spec.COMPACT_EVERY * (spec.WARMUP_CYCLES + cycles)


def gen_dedup(seed: int, seconds: float, work: str) -> None:
    """Documents in id order, one file per trigger. A share of documents
    start a family; later members are near-duplicates (one token changed,
    dropped) or variants (a third of tokens changed, kept). The truth is
    exact Jaccard over the families, and the generator checks that no two
    documents of different families share a shingle."""
    rng = np.random.default_rng(seed)
    src = os.path.join(work, "src")
    os.makedirs(src, exist_ok=True)
    n_files = dedup_files(seconds)
    n_docs = n_files * spec.DOCS_PER_FILE
    texts: list[str] = []
    family: list[int] = []
    members: dict[int, list[int]] = {}
    for i in range(n_docs):
        roots = list(members)
        if roots and rng.random() < spec.FAMILY_SHARE:
            root = roots[int(rng.integers(len(roots)))]
            base = texts[root].split(" ")
            n_change = 1 if rng.random() < 0.7 else len(base) // 3
            pos = rng.choice(len(base), size=n_change, replace=False)
            toks = list(base)
            for p in pos:
                toks[p] = f"v{int(rng.integers(spec.VOCAB))}"
            fam = root
        else:
            n_tok = int(rng.integers(*spec.DOC_TOKENS))
            toks = [f"t{int(x)}" for x in rng.integers(spec.VOCAB, size=n_tok)]
            fam = i
        texts.append(" ".join(toks))
        family.append(fam)
        members.setdefault(fam, []).append(i)
    shingles = [shingle_set(t) for t in texts]
    owner: dict[str, int] = {}
    for i, sh in enumerate(shingles):
        for s in sh:
            if owner.setdefault(s, family[i]) != family[i]:
                raise RuntimeError("generator: two families share a shingle")
    dropped = [False] * n_docs
    for ids in members.values():
        for a_pos, a in enumerate(ids):
            best = max((jaccard(shingles[a], shingles[b]) for b in ids[:a_pos]), default=0.0)
            if spec.VARIANT_MAX_JACCARD < best < spec.DUP_MIN_JACCARD:
                raise RuntimeError(f"generator: planted jaccard {best:.3f} too close to the threshold")
            dropped[a] = best >= spec.DEDUP_THRESHOLD
    for f in range(n_files):
        lo, hi = f * spec.DOCS_PER_FILE, (f + 1) * spec.DOCS_PER_FILE
        path = os.path.join(src, f"d{f:05d}.parquet")
        pq.write_table(
            pa.table(
                {"doc_id": pa.array(range(lo, hi), pa.int64()), "text": texts[lo:hi]}
            ),
            path,
        )
        # the file source reads oldest first: pin arrival order = id order
        os.utime(path, (1_000_000 + f, 1_000_000 + f))
    pq.write_table(
        pa.table({"doc_id": pa.array(range(n_docs), pa.int64()), "kept": [not d for d in dropped]}),
        os.path.join(work, "truth.parquet"),
    )


# ---- lake_serve ----------------------------------------------------------

LAKE_BLOCK = spec.LAKE_FLUSH_RECORDS // 2


def lake_flushes(seconds: float) -> int:
    ops = spec.WARMUP_OPS + int(round(spec.OPS_PER_SECOND * seconds))
    writes = ops // (spec.WRITE_EVERY + 1) + 1
    return spec.LAKE_SETUP_FLUSHES + writes


def gen_lake(seed: int, seconds: float, work: str) -> None:
    """Flush inputs: flush b inserts the key block b and updates or deletes
    keys of blocks b-1 and b, so each flush's files span about two key
    blocks and zone maps on ``id`` can prune. Vectors come from a seeded
    Gaussian mixture; query ids are negative so they never match a corpus
    id."""
    rng = np.random.default_rng(seed)
    stage = os.path.join(work, "stage")
    os.makedirs(stage, exist_ok=True)
    w = EnvelopeWriter(rng)
    n_upd = LAKE_BLOCK * 3 // 5
    for b in range(lake_flushes(seconds)):
        new = np.arange(b * LAKE_BLOCK, (b + 1) * LAKE_BLOCK)
        old = rng.integers(max(0, b - 1) * LAKE_BLOCK, (b + 1) * LAKE_BLOCK, size=LAKE_BLOCK)
        ids = np.concatenate([new, old])
        ops = ["I"] * LAKE_BLOCK + ["U"] * n_upd + ["D"] * (LAKE_BLOCK - n_upd)
        order = rng.permutation(len(ids))
        rows = w.records(ids[order], [ops[k] for k in order], spec.CORRUPT_PER_FILE)
        w.write(os.path.join(stage, f"flush{b:04d}.parquet"), rows, b)
    w.write_truth(os.path.join(work, "truth.parquet"))

    centers = rng.normal(size=(spec.VEC_CENTERS, spec.VEC_DIM)) * 3.0

    def draw(n):
        c = rng.integers(spec.VEC_CENTERS, size=n)
        return (centers[c] + rng.normal(size=(n, spec.VEC_DIM))).astype(np.float32)

    def write_vecs(path, ids, vecs):
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array(ids, pa.int64()),
                    "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                }
            ),
            path,
        )

    write_vecs(os.path.join(stage, "vectors_base.parquet"), np.arange(spec.VEC_BASE), draw(spec.VEC_BASE))
    start = spec.VEC_BASE
    for i in range(lake_flushes(seconds)):
        write_vecs(
            os.path.join(stage, f"vectors_append{i:04d}.parquet"),
            np.arange(start, start + spec.VEC_APPEND),
            draw(spec.VEC_APPEND),
        )
        start += spec.VEC_APPEND
    n_q = spec.PROBE_QUERIES * (spec.WARMUP_OPS + int(round(spec.OPS_PER_SECOND * seconds)))
    write_vecs(os.path.join(stage, "queries.parquet"), -1 - np.arange(n_q), draw(n_q))


def main(argv: list[str]) -> None:
    workload, seed, seconds, work = argv[0], int(argv[1]), float(argv[2]), argv[3]
    ctl = os.path.join(work, "ctl")
    os.makedirs(ctl, exist_ok=True)
    {"cdc_stream": gen_cdc, "corpus_dedup": gen_dedup, "lake_serve": gen_lake}[workload](
        seed, seconds, work
    )
    open(os.path.join(ctl, "ready"), "w").close()
    if workload == "cdc_stream":
        publish_cdc(seconds, work)


if __name__ == "__main__":
    main(sys.argv[1:])
