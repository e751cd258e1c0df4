"""The benchmark's pinned constants.

Every number that shapes a run lives here, so a run's work is a function
of (workload, seed, seconds) and nothing measured at run time. Sizing facts
measured on a 4-core / 15 GB host at ``local[4]`` are in README.md.
"""

from __future__ import annotations

WORKLOADS = ("cdc_stream", "corpus_dedup", "lake_serve")

# Driver JVM heap: explicit and well below host RAM (the engine's own
# default of 16g exceeds a 15 GB host).
DRIVER_MEMORY = "2g"

# ---- cdc_stream: open loop, then a burst --------------------------------
RECORDS_PER_FILE = 500  # one producer PutRecords batch
CORRUPT_PER_FILE = 3  # fixed count of undecodable records in every file
KEY_SPACE = 20_000
ZIPF_A = 1.2
OP_MIX = (("I", 0.5), ("U", 0.3), ("D", 0.2))
STATUSES = ("NEW", "PAID", "SHIPPED", "CANCELLED")
# Offered rate, pinned (never calibrated per run): 40% of the ~10 files/s
# the lake path sustains beside the alert path here, so CPU steal from
# other tenants (10-30% at times) slows triggers without the backlog
# running away. At 10 files/s the lake trigger grows with its batch (~0.09 s
# per file) until the file cap binds.
OFFERED_FILES_PER_S = 4.0
# Closed-loop warm-up: files published one at a time, each after both
# queries committed the previous one (first-trigger and JIT settling).
WARMUP_FILES = 3
# Untimed open-loop lead-in before the timed files, so the timed window
# starts in the steady state of the open loop, not its first trigger.
LEAD_FILES = 6
BURST_FILES = 60  # fixed backlog dropped at once after the open loop
# spreads the burst over three triggers; twice what a trigger takes in at
# the offered rate, so it never binds during the open loop
LAKE_MAX_FILES_PER_TRIGGER = 20

# ---- corpus_dedup: backlog drain ----------------------------------------
DOCS_PER_FILE = 60  # one file per trigger (maxFilesPerTrigger=1)
DOC_TOKENS = (50, 80)
VOCAB = 500_000
COMPACT_EVERY = 3
N_BUCKETS = 8
DEDUP_THRESHOLD = 0.7
# every verdict sits far from the threshold, so MinHash-LSH recall cannot
# flip one: a dropped document has an earlier family member at Jaccard
# >= 0.85 (it changes one token of its 50+ token root), a kept one has none
# above 0.55
DUP_MIN_JACCARD = 0.85
VARIANT_MAX_JACCARD = 0.55
FAMILY_SHARE = 0.25  # share of documents that start a family
WARMUP_CYCLES = 1  # batches 0 .. COMPACT_EVERY-1 are untimed
SECONDS_PER_CYCLE = 10.0  # timed cycles = max(1, seconds // this)

# ---- lake_serve: closed loop, one client --------------------------------
LAKE_FLUSH_RECORDS = 2000
LAKE_SETUP_FLUSHES = 1
LAKE_FILES_PER_PARTITION = 2  # two files per leaf, so compaction has work
ZONE_COL = "id"
VEC_DIM = 32
VEC_CENTERS = 16
VEC_BASE = 2000
VEC_APPEND = 200
IVF_NLIST = 16
IVF_NPROBE = 4
KNN_K = 10
PROBE_QUERIES = 4
RECALL_FLOOR = 0.7  # per probe: mean recall@10 over its queries
OPS_PER_SECOND = 3.0  # timed operations = OPS_PER_SECOND * seconds
# a write every WRITE_EVERY reads; writes rotate flush, ivf append, flush,
# compaction
WRITE_EVERY = 6
# At 30 timed operations these shares give 15 point, 3 SQL, 3
# latest-per-key, 3 incremental and 2 probe reads beside 4 writes. Ranked
# by latency, point, SQL and latest-per-key reads (~0.2-0.4 s) fill ranks
# 5-25, so both the median and the tail rank (the 20th, p66.7) fall well
# inside that block, never on a border between two operation classes.
READ_MIX = (
    ("point", 0.577),
    ("probe", 0.077),
    ("incremental", 0.115),
    ("sql", 0.115),
    ("apply_cdc", 0.115),
)
WRITE_CYCLE = ("flush", "ivf_update", "flush", "compact")
WARMUP_OPS = 2
