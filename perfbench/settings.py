"""Pinned machine settings and input sizes for the perfbench workloads.

Parent and candidate commits must run with identical settings, so every knob
the benchmark depends on lives here and is applied by ``run.py`` before the
JVM starts.  Sizes are chosen so one run (JVM start, set-up, a ~10 s closed
loop and teardown) stays near 30 s on a 4-core, 15 GB box.
"""

from __future__ import annotations

import os

# --- machine -------------------------------------------------------------
# local[N] with N <= nproc: one driver process, N task slots
CORES = max(1, min(4, os.cpu_count() or 1))
MASTER = f"local[{CORES}]"
SHUFFLE_PARTITIONS = 2 * CORES
# JVM heap for the local driver (SPARK_GRAFT_DRIVER_MEM).  The session
# factory's 12g default assumes a 32-core box; 3g plus N Python workers
# (~0.3-0.6 GB each at these sizes) leaves most of 15 GB free.
DRIVER_MEM = "3g"
WORK_DIR_NAME = ".perfbench_work"  # under the checkout root; gitignored

# --- set-up --------------------------------------------------------------
# set-up repeats: the first builds small state (it pays the cold code
# paths), the rest build full-size state; setup_s counts the small one once
# and the median of the full ones.  One full repeat is what the run budget
# allows next to JVM start and warm-up.
SETUP_REPEATS = 2
MIN_CYCLES = 1  # a run measures at least this many closed-loop cycles

# --- ingest: three writers over fresh seeded token tables ------------------
INGEST_DOCS = 3_000  # tokengen docs per table (~1.2M tokens, ~5 MB Arrow)
# one seeded table per full set-up repeat; cycles rotate over them and
# every timed encode reads a new hard-linked copy (a new input identity)
INGEST_FILES = 8  # parquet files per table = map-only blocks
TARGET_TOKENS = 150_000  # encode_table partition budget (~8 blocks)
WARM_DOCS = 400  # docs per table in the small set-up repeat

# --- scan: one table encoded in set-up, re-read every cycle ---------------
SCAN_DOCS = 4_000  # ~1.6M tokens
SCAN_LOOKUPS = 5  # point lookups per cycle

# --- mutate: delete / masked decode / merge / update / rollback -----------
# on the ingest part's token table of the same set-up repeat
MERGE_BUCKETS = 64  # merge source = one doc_id hash bucket (~1/64 of rows)

# --- dedup: dedup_clusters on the bulk corpus and its skew twin -----------
DEDUP_DOCS = 3_000  # per corpus; one bulk/skew pair per set-up repeat
DEDUP_MEGA_EVERY = 6  # skew twin: every 6th doc is a copy of doc 0
DEDUP_ARGS = dict(n_hashes=16, n_bands=4, shingle=3, unit="word")


def environment(root: str, work: str) -> dict[str, str]:
    """Environment the JVM and its Python workers inherit."""
    tmp = os.path.join(work, "tmp")
    py_path = os.environ.get("PYTHONPATH", "")
    return {
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        # workers import rugo_spark from the checkout, not site-packages
        "PYTHONPATH": root + (os.pathsep + py_path if py_path else ""),
        "TMPDIR": tmp,
        # no hsperfdata file in /tmp: every write stays inside the checkout
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false pyspark-shell",
    }


def describe() -> dict:
    """The pinned settings, as recorded in every result artifact."""
    return {
        "master": MASTER,
        "shuffle_partitions": SHUFFLE_PARTITIONS,
        "driver_mem": DRIVER_MEM,
        "setup_repeats": SETUP_REPEATS,
        "min_cycles": MIN_CYCLES,
        "sizes": {
            "ingest": {"docs": INGEST_DOCS, "files": INGEST_FILES,
                       "target_tokens": TARGET_TOKENS},
            "scan": {"docs": SCAN_DOCS, "lookups_per_cycle": SCAN_LOOKUPS},
            "mutate": {"docs": INGEST_DOCS, "merge_buckets": MERGE_BUCKETS},
            "dedup": {"docs": DEDUP_DOCS, "mega_every": DEDUP_MEGA_EVERY, **DEDUP_ARGS},
        },
    }
