"""Per-partition lineage manifest: atomic sidecars + rugo-parity reader.

Each encoded partition writes one JSON sidecar (temp + rename, atomic) under
``<out>/manifest/``.  The sidecar carries the lineage record the north rule
requires — partition id, per-column codec choice, input/output bytes, row
counts, checksum — which is the same vocabulary as the reference's 18-field
per-column-chunk record (rugo ``metadata.hpp:12-43``, dict assembly
``metadata_reader.pyx:102-174``).  ``read_manifest`` exposes a
rugo-``read_metadata``-shaped nested dict for functional parity.
"""

from __future__ import annotations

import base64
import json
import os

import pyarrow as pa

SCHEMA_FILE = "_schema.json"
PLAN_FILE = "_plan.json"
CODEC_PLANS_FILE = "_codec_plans.json"
MANIFEST_DIR = "manifest"
BLOCKS_DIR = "blocks"

# Spark-side manifest row schema (the block writers' output rows)
MANIFEST_DDL = (
    "partition_id int, n_rows long, n_tokens long, input_bytes long, "
    "output_bytes long, block_path string, checksum long, codecs string"
)
MANIFEST_ARROW = pa.schema(
    [
        ("partition_id", pa.int32()),
        ("n_rows", pa.int64()),
        ("n_tokens", pa.int64()),
        ("input_bytes", pa.int64()),
        ("output_bytes", pa.int64()),
        ("block_path", pa.string()),
        ("checksum", pa.int64()),
        ("codecs", pa.string()),
    ]
)


def manifest_batch(rows: list[dict]) -> pa.RecordBatch:
    """Sidecar rows → one batch of the Spark-side manifest row schema."""
    return pa.RecordBatch.from_pylist(
        [{k: r[k] for k in MANIFEST_ARROW.names} for r in rows], schema=MANIFEST_ARROW
    )


def write_schema(
    out_dir: str, arrow_schema: pa.Schema, spark_schema_json: str, extra: dict | None = None
) -> None:
    write_schema_payload(out_dir, {
        "arrow_schema_b64": base64.b64encode(arrow_schema.serialize().to_pybytes()).decode(),
        "spark_schema": json.loads(spark_schema_json),
        **(extra or {}),
    })


def write_schema_payload(out_dir: str, payload: dict) -> None:
    """Atomic raw replace of ``_schema.json`` — also used by reclaim_append
    to restore the stashed pre-append schema after a crashed evolving
    append."""
    os.makedirs(out_dir, exist_ok=True)
    tmp = os.path.join(out_dir, SCHEMA_FILE + ".tmp")
    with open(tmp, "w") as f:
        json.dump(payload, f)
    os.replace(tmp, os.path.join(out_dir, SCHEMA_FILE))


# _schema.json keys added after the encode that first wrote the file (CHECK
# constraints, the rename/drop column view, a z-order spec): every rewrite
# of _schema.json carries them forward
DURABLE_PAYLOAD_KEYS = ("constraints", "column_view", "zorder")


def carry_payload(prior: dict | None, **extra) -> dict:
    """``write_schema`` extras for a rewrite of ``_schema.json``: ``extra``
    (None values dropped) plus every durable key of the ``prior`` payload
    that ``extra`` does not set."""
    out = {k: v for k, v in extra.items() if v is not None}
    for k in DURABLE_PAYLOAD_KEYS:
        if k in (prior or {}) and k not in out:
            out[k] = prior[k]
    return out


def read_schema_payload(out_dir: str) -> dict | None:
    """Raw _schema.json payload (None if absent) — carries resume guards."""
    path = os.path.join(out_dir, SCHEMA_FILE)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def read_schema(out_dir: str) -> tuple[pa.Schema, dict]:
    path = os.path.join(out_dir, SCHEMA_FILE)
    if not os.path.exists(path):
        raise FileNotFoundError(
            f"not an encoded dataset (missing {SCHEMA_FILE}): {out_dir}"
        )
    with open(os.path.join(out_dir, SCHEMA_FILE)) as f:
        payload = json.load(f)
    schema = pa.ipc.read_schema(pa.py_buffer(base64.b64decode(payload["arrow_schema_b64"])))
    return schema, payload["spark_schema"]


def write_plan(out_dir: str, plan: dict) -> None:
    """Persist the realized partitioning plan (size→cumulative-mass map)
    beside the manifest, atomically.  A resumed encode replays this map
    instead of re-scanning the input — partition ids stay stable across
    restarts by construction, not by re-derivation."""
    os.makedirs(out_dir, exist_ok=True)
    tmp = os.path.join(out_dir, PLAN_FILE + ".tmp")
    with open(tmp, "w") as f:
        json.dump(plan, f)
    os.replace(tmp, os.path.join(out_dir, PLAN_FILE))


def read_plan(out_dir: str) -> dict | None:
    path = os.path.join(out_dir, PLAN_FILE)
    if not os.path.exists(path):
        return None
    try:
        with open(path) as f:
            return json.load(f)
    except (json.JSONDecodeError, OSError):
        return None


def read_plan_checked(out_dir: str, require: bool = False) -> dict | None:
    """Resume-time plan read with the fail-loudly contract shared by every
    encode path: if completed sidecars exist, a plan file that is missing-
    but-expected (``require=True`` — e.g. the sorted path always writes its
    plan first, so its absence means the dataset was written by a DIFFERENT
    path), unreadable, or not a JSON object raises instead of letting a
    silent re-plan assign a different layout (the anti-join would then drop
    or duplicate rows).  Returns None when there is nothing to resume."""
    if not completed_partitions(out_dir):
        return None
    plan = read_plan(out_dir)
    if plan is None:
        if os.path.exists(os.path.join(out_dir, PLAN_FILE)):
            raise ValueError(
                f"corrupt {PLAN_FILE} beside completed partitions in {out_dir}; "
                "restore it or clear the dataset before re-encoding"
            )
        if require:
            raise ValueError(
                f"{out_dir} has completed partitions but no {PLAN_FILE} — it was "
                "written by a different encode path; resume it with that path "
                "or clear the dataset"
            )
        return None
    if not isinstance(plan, dict):
        raise ValueError(
            f"corrupt {PLAN_FILE} beside completed partitions in {out_dir} "
            f"(expected a JSON object, got {type(plan).__name__}); restore it "
            "or clear the dataset before re-encoding"
        )
    return plan


def write_codec_plans(out_dir: str, plans: dict) -> None:
    """Persist the job-level per-column codec plans (pinned codec names +
    base64 FSST symbol tables) beside the manifest, atomically.  Written
    BEFORE any data moves, so a resumed encode replays the exact same codec
    decisions — the bit-identical-resume contract extends to plan-pinned
    tables.  An empty dict is meaningful: it records that pinning was
    decided (and declined), so resume does not re-decide differently."""
    os.makedirs(out_dir, exist_ok=True)
    tmp = os.path.join(out_dir, CODEC_PLANS_FILE + ".tmp")
    with open(tmp, "w") as f:
        json.dump(plans, f)
    os.replace(tmp, os.path.join(out_dir, CODEC_PLANS_FILE))


def read_codec_plans(out_dir: str) -> dict | None:
    path = os.path.join(out_dir, CODEC_PLANS_FILE)
    if not os.path.exists(path):
        return None
    try:
        with open(path) as f:
            return json.load(f)
    except (json.JSONDecodeError, OSError):
        return None


SEGMENTS_DIR = "manifest_segments"
SEGMENTS_FILE = "_segments.json"
CONSOLIDATE_LOCK = "_consolidate.lock"
# small row groups → pid-range pruning when executors fetch a few members
# out of a 10⁵-row segment (compaction, point planning)
_SEGMENT_ROW_GROUP = 2000


def sidecar_path(out_dir: str, partition_id: int) -> str:
    return os.path.join(out_dir, MANIFEST_DIR, f"part-{partition_id:06d}.json")


def block_path(out_dir: str, partition_id: int) -> str:
    return os.path.join(out_dir, BLOCKS_DIR, f"part-{partition_id:06d}.rgb")


def part_pid(name: str) -> int:
    """Partition id of a sidecar or block file (a bare name or a path);
    -1 for any other name, including in-progress temp files."""
    stem, ext = os.path.splitext(os.path.basename(name))
    if not stem.startswith("part-") or ext not in (".json", ".rgb"):
        return -1
    try:
        return int(stem[len("part-"):])
    except ValueError:
        return -1


def inprogress_path(path: str) -> str:
    """Temp name to write ``path`` through before renaming it into place.
    Attempt-unique: with speculative execution two attempts of one task may
    write concurrently, and a SHARED temp name would have them interleave
    into one inode and publish a torn file."""
    import uuid

    return f"{path}.inprogress.{uuid.uuid4().hex[:12]}"


def write_sidecar(out_dir: str, row: dict) -> None:
    """Atomic (temp + rename) — a crash mid-write never yields a torn
    sidecar, and the attempt-unique temp name keeps concurrent speculative
    attempts of one task from interleaving into a shared inode."""
    path = sidecar_path(out_dir, row["partition_id"])
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = inprogress_path(path)
    with open(tmp, "w") as f:
        json.dump(row, f)
    os.replace(tmp, path)


def loose_sidecar_names(out_dir: str) -> list[str]:
    """Filenames of per-partition JSON sidecars still in ``manifest/`` (the
    write-side unit; consolidation folds them into parquet segments)."""
    mdir = os.path.join(out_dir, MANIFEST_DIR)
    if not os.path.isdir(mdir):
        return []
    return sorted(
        n for n in os.listdir(mdir) if n.startswith("part-") and n.endswith(".json")
    )


def loose_sidecar_rows(out_dir: str) -> list[dict]:
    """All valid loose sidecars (torn/partial files are skipped → re-encoded)."""
    mdir = os.path.join(out_dir, MANIFEST_DIR)
    rows = []
    for name in loose_sidecar_names(out_dir):
        try:
            with open(os.path.join(mdir, name)) as f:
                rows.append(json.load(f))
        except (json.JSONDecodeError, OSError):
            continue
    return rows


def segment_catalog(out_dir: str) -> list[dict]:
    """Catalog entries of committed manifest segments, in commit order:
    ``[{"file", "n_rows", "min_pid", "max_pid"}, ...]``.

    Missing catalog → no segments (by protocol, sidecars are deleted only
    AFTER the catalog commit, so an uncataloged segment file is a crash
    orphan whose rows all still exist as sidecars).  A catalog that exists
    but cannot be parsed raises — planning without it would silently drop
    every consolidated partition."""
    path = os.path.join(out_dir, SEGMENTS_FILE)
    if not os.path.exists(path):
        return []
    try:
        with open(path) as f:
            cat = json.load(f)
        segs = cat["segments"]
        assert isinstance(segs, list)
    except (json.JSONDecodeError, OSError, KeyError, AssertionError) as e:
        raise ValueError(
            f"corrupt manifest-segment catalog {path}: {e}; restore it (or "
            "remove it AND the manifest_segments/ dir only if every partition "
            "still has a loose sidecar)"
        )
    return segs


# segment columns mirror the sidecar's top-level fields so planning can
# COLUMN-PRUNE: metadata_agg reads stats without touching the (large) bloom
# column; filterless decode planning reads only block_path + checksum.
# Unknown future sidecar keys round-trip through 'extras'.
_SEGMENT_CORE = (
    "partition_id", "n_rows", "n_tokens", "input_bytes", "output_bytes",
    "block_path", "checksum", "codecs",
)
_SEGMENT_ALL = _SEGMENT_CORE + ("bloom_col", "bloom", "extras")


def _rows_from_segment_table(tbl) -> list[dict]:
    """Materialize sidecar row dicts from (a subset of) segment columns.
    ``bloom`` parses back to its dict form; absent/null bloom keys are
    omitted entirely (matching a bloom-less sidecar); ``extras`` re-inlines
    unknown keys."""
    cols = {name: tbl.column(name).to_pylist() for name in tbl.column_names}
    out = []
    for i in range(tbl.num_rows):
        row = {}
        for name, vals in cols.items():
            v = vals[i]
            if name == "bloom":
                if v is not None:
                    row["bloom"] = json.loads(v)
            elif name == "extras":
                if v:
                    row.update(json.loads(v))
            elif name == "bloom_col":
                if v is not None:
                    row["bloom_col"] = v
            else:
                row[name] = v
        out.append(row)
    return out


def read_segment_rows(seg_path: str, columns: list[str] | None = None) -> list[dict]:
    """Sidecar row dicts from one segment parquet file; ``columns`` prunes
    to a subset of ``_SEGMENT_ALL`` (planning reads only what it needs)."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(seg_path, columns=columns)
    return _rows_from_segment_table(tbl)


def segment_rows(out_dir: str, cols: list[str] | None = None) -> dict[int, dict]:
    """pid → row across all cataloged segments (later segments win; overlap
    only exists transiently in the crash window between a catalog commit and
    the sidecar deletion that follows it, where both copies are identical).
    ``cols`` prunes the parquet read to the named sidecar fields."""
    if cols is not None and "partition_id" not in cols:
        cols = ["partition_id"] + list(cols)
    out: dict[int, dict] = {}
    sdir = os.path.join(out_dir, SEGMENTS_DIR)
    for entry in segment_catalog(out_dir):
        for row in read_segment_rows(os.path.join(sdir, entry["file"]), columns=cols):
            out[int(row["partition_id"])] = row
    return out


def segment_pids(out_dir: str) -> set[int]:
    """Partition ids covered by cataloged segments — reads ONLY the
    ``partition_id`` column (no row_json parse)."""
    import pyarrow.parquet as pq

    sdir = os.path.join(out_dir, SEGMENTS_DIR)
    pids: set[int] = set()
    for entry in segment_catalog(out_dir):
        tbl = pq.read_table(os.path.join(sdir, entry["file"]), columns=["partition_id"])
        pids.update(int(p) for p in tbl.column("partition_id").to_pylist())
    return pids


def completed_partitions(out_dir: str, cols: list[str] | None = None) -> list[dict]:
    """All completed partitions: cataloged segment rows merged with loose
    sidecars (loose wins per pid — it is the freshest write), sorted by
    partition id.  ``cols`` prunes the SEGMENT parquet read (loose JSON
    sidecars always parse whole — they are the small tail).

    Pids condemned by an in-progress rollback (outside the
    ``_rollback.json`` target ranges) are excluded HERE, below even the
    resume paths: condemned partitions are being deleted, so neither a
    reader nor a resume may treat them as existing."""
    merged = segment_rows(out_dir, cols=cols) if os.path.exists(
        os.path.join(out_dir, SEGMENTS_FILE)
    ) else {}
    if not merged:
        rows = loose_sidecar_rows(out_dir)
    else:
        for row in loose_sidecar_rows(out_dir):
            merged[int(row["partition_id"])] = row
        rows = [merged[k] for k in sorted(merged)]
    mask = rollback_mask(out_dir)
    if mask is not None:
        keep = RangeSet(mask)
        rows = [r for r in rows if int(r["partition_id"]) in keep]
    return rows


def consolidate_manifest(out_dir: str, min_sidecars: int = 1) -> dict:
    """Fold loose JSON sidecars into ONE new parquet manifest segment — the
    Iceberg-manifest-list analog of the reference's plan-from-one-small-
    footer idea (rugo ``metadata.cpp:841-872``), completed at dataset level:
    planning a 10⁵–10⁶-block dataset reads a handful of parquet files
    instead of 10⁵–10⁶ JSON opens (VERDICT r4 item 2).

    Commit protocol (single consolidator at a time, like append's
    single-writer gate):

    1. GC orphan segment files not in the catalog — crash leftovers from a
       prior step-3 failure; no reader references them by protocol.
    2. Collect foldable loose sidecars: valid JSON, NOT inside an incomplete
       append band (in-flight appends stay loose until their marker flips),
       and NOT already covered by a cataloged segment (re-folding the
       leftovers of a crash between steps 4 and 5 would put the same pid in
       two segments) — those redundant leftovers are just deleted.
    3. Write the segment parquet (pid-sorted, small row groups for pid-range
       pruning) to a temp name, then rename into ``manifest_segments/``.
       Invisible until cataloged.
    4. Commit: rewrite ``_segments.json`` (temp + rename, atomic) with the
       new entry appended.
    5. Delete the folded sidecar files.

    A crash at ANY point leaves sidecars ∪ cataloged-segments covering
    exactly the completed partitions, with read-side dedup by pid.

    Single-consolidator is ENFORCED (review r5 — a concurrent second
    consolidation could GC the first's not-yet-cataloged segment as an
    orphan, or commit a catalog read before the first's entry landed:
    silent row loss either way): an ``O_EXCL`` lock file gates the whole
    operation.  A lock left by a CRASHED consolidator on the same host
    (pid no longer alive) is broken automatically; a foreign-host lock must
    be removed manually after confirming that session is dead.

    Returns ``{"folded", "deleted_redundant", "segments", "gc_orphans"}``."""
    if rollback_mask(out_dir) is not None:
        raise ValueError(
            f"{out_dir} has an in-progress rollback (_rollback.json): finish "
            "it before consolidating — folding condemned sidecars would "
            "resurrect partitions the rollback is deleting"
        )
    lock = _acquire_consolidate_lock(out_dir)
    try:
        return _consolidate_locked(out_dir, min_sidecars)
    finally:
        try:
            os.remove(lock)
        except OSError:
            pass


def _acquire_consolidate_lock(out_dir: str) -> str:
    import socket

    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, CONSOLIDATE_LOCK)
    me = {"pid": os.getpid(), "host": socket.gethostname()}
    for attempt in range(2):
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.write(fd, json.dumps(me).encode())
            os.close(fd)
            return path
        except FileExistsError:
            try:
                with open(path) as f:
                    held = json.load(f)
            except (json.JSONDecodeError, OSError):
                held = {}
            stale = False
            if held.get("host") == me["host"] and isinstance(held.get("pid"), int):
                try:
                    os.kill(held["pid"], 0)
                except ProcessLookupError:
                    stale = True
                except PermissionError:
                    pass
            if stale and attempt == 0:
                try:
                    os.remove(path)
                except OSError:
                    pass
                continue
            raise ValueError(
                f"another consolidation holds {path} (pid {held.get('pid')} on "
                f"{held.get('host')!r}); wait for it, or remove the lock file "
                "only after confirming that session is dead"
            )
    raise AssertionError("unreachable")


def _consolidate_locked(out_dir: str, min_sidecars: int) -> dict:
    import uuid

    import pyarrow.parquet as pq

    sdir = os.path.join(out_dir, SEGMENTS_DIR)
    mdir = os.path.join(out_dir, MANIFEST_DIR)
    catalog = segment_catalog(out_dir)
    cataloged = {e["file"] for e in catalog}
    # -- 1. GC orphans
    gc = 0
    if os.path.isdir(sdir):
        for name in os.listdir(sdir):
            if name.endswith(".parquet") and name not in cataloged:
                try:
                    os.remove(os.path.join(sdir, name))
                    gc += 1
                except OSError:
                    pass
    # -- 2. collect foldable rows (parallel reads: at 10⁵ sidecars the I/O
    # latency, not JSON parse, dominates a serial loop)
    bands = incomplete_append_bands(out_dir)
    covered = segment_pids(out_dir) if catalog else set()
    names = loose_sidecar_names(out_dir)

    def _load(name):
        try:
            with open(os.path.join(mdir, name)) as f:
                return json.load(f)
        except (json.JSONDecodeError, OSError):
            return None

    # SERIAL loop on purpose.  The previous 32-thread ThreadPoolExecutor was
    # measured (r6, 100k page-cached sidecars): 38 s of a 52 s consolidation
    # inside executor-queue lock acquisition, and even chunked threads run
    # 44-49 s — the GIL convoy effect on sub-ms open+json.load units —
    # while the plain serial loop reads AND parses all 100k files in 2.8 s.
    # Thread fan-out only pays when per-file latency is real I/O (object
    # stores); on local/page-cached storage it is pure contention.
    loaded = [_load(n) for n in names]
    fold: list[dict] = []
    redundant: list[int] = []
    for row in loaded:
        if row is None:
            continue
        pid = int(row["partition_id"])
        if any(lo <= pid < hi for lo, hi in bands):
            continue
        if pid in covered:
            redundant.append(pid)
            continue
        fold.append(row)
    if len(fold) < max(1, min_sidecars):
        for pid in redundant:
            try:
                os.remove(sidecar_path(out_dir, pid))
            except OSError:
                pass
        return {"folded": 0, "deleted_redundant": len(redundant),
                "segments": len(catalog), "gc_orphans": gc}
    fold.sort(key=lambda r: int(r["partition_id"]))
    # -- 3. segment file (one real column per sidecar field → planning
    # column-prunes; unknown keys survive in 'extras')
    entry = _write_segment_file(out_dir, fold, len(catalog))
    seg_name = entry["file"]
    # -- 4. catalog commit.  The entry carries a pre-merged stats SUMMARY
    # (row/token totals + column min/max/null merged across every folded
    # sidecar) — the Iceberg-manifest-list partition-summary analog, and the
    # dataset-level completion of rugo's plan-from-one-small-footer idea
    # (metadata.cpp:841-872): metadata_agg over a consolidated dataset reads
    # ONLY this catalog plus the loose tail, opening zero segment files.
    _commit_catalog(out_dir, catalog + [entry])
    # -- 5. delete folded (and redundant) sidecars (serial: same GIL-convoy
    # measurement as the read side — unlink syscalls are ~10 µs when the
    # dentry cache is warm, thread fan-out only adds contention)
    for pid in [int(r["partition_id"]) for r in fold] + redundant:
        try:
            os.remove(sidecar_path(out_dir, pid))
        except OSError:
            pass
    return {"folded": len(fold), "deleted_redundant": len(redundant),
            "segments": len(catalog) + 1, "gc_orphans": gc}


def _write_segment_file(out_dir: str, fold: list[dict], seq: int) -> dict:
    """Write one pid-SORTED segment parquet from sidecar row dicts and
    return its catalog entry (file name, row count, pid span, pre-merged
    stats summary).  The file is INVISIBLE until a catalog referencing it
    is committed (``_commit_catalog``) — crash orphans are GC'd by the next
    consolidation."""
    import uuid

    import pyarrow.parquet as pq

    sdir = os.path.join(out_dir, SEGMENTS_DIR)
    os.makedirs(sdir, exist_ok=True)
    seg_name = f"segment-{seq:04d}-{uuid.uuid4().hex[:12]}.parquet"
    arrays: dict[str, pa.Array] = {
        "partition_id": pa.array([int(r["partition_id"]) for r in fold], pa.int64()),
        "n_rows": pa.array([int(r["n_rows"]) for r in fold], pa.int64()),
        "n_tokens": pa.array([int(r.get("n_tokens") or 0) for r in fold], pa.int64()),
        "input_bytes": pa.array([int(r.get("input_bytes") or 0) for r in fold], pa.int64()),
        "output_bytes": pa.array([int(r.get("output_bytes") or 0) for r in fold], pa.int64()),
        "block_path": pa.array([r["block_path"] for r in fold], pa.string()),
        "checksum": pa.array([int(r["checksum"]) for r in fold], pa.int64()),
        "codecs": pa.array([r.get("codecs") or "{}" for r in fold], pa.string()),
        "bloom_col": pa.array([r.get("bloom_col") for r in fold], pa.string()),
        "bloom": pa.array(
            [json.dumps(r["bloom"]) if r.get("bloom") is not None else None for r in fold],
            pa.string(),
        ),
        "extras": pa.array(
            [
                json.dumps(ex)
                if (ex := {k: v for k, v in r.items() if k not in _SEGMENT_ALL})
                else None
                for r in fold
            ],
            pa.string(),
        ),
    }
    tbl = pa.table(arrays)
    tmp = os.path.join(sdir, f".tmp-{uuid.uuid4().hex}")
    pq.write_table(tbl, tmp, row_group_size=_SEGMENT_ROW_GROUP, compression="zstd")
    os.replace(tmp, os.path.join(sdir, seg_name))
    from rugo_spark.engine import merge_column_metas

    fold_codecs = [json.loads(r.get("codecs") or "{}") for r in fold]
    summary_codecs = merge_column_metas(fold_codecs)
    # schema evolution: folded rows that predate a column contribute their
    # n_rows as nulls to that column's summary (the metadata_agg fast path
    # reads ONLY this summary — without the adjustment an evolved column's
    # null count would silently undercount pre-evolution rows)
    for cd, r in zip(fold_codecs, fold):
        for c in summary_codecs:
            if c not in cd:
                summary_codecs[c]["null_count"] = int(
                    summary_codecs[c].get("null_count") or 0
                ) + int(r["n_rows"])
    summary = {
        "n_rows": sum(int(r["n_rows"]) for r in fold),
        "n_tokens": sum(int(r.get("n_tokens") or 0) for r in fold),
        "codecs": summary_codecs,
    }
    return {
        "file": seg_name,
        "n_rows": len(fold),
        "min_pid": int(fold[0]["partition_id"]),
        "max_pid": int(fold[-1]["partition_id"]),
        "summary": json.loads(json.dumps(summary, default=str)),
    }


def _commit_catalog(out_dir: str, segments: list[dict]) -> None:
    """Atomic (temp + fsync + rename) replace of the segment catalog — THE
    commit point for consolidation and for rollback's segment rewrite."""
    cat_tmp = os.path.join(out_dir, SEGMENTS_FILE + ".tmp")
    with open(cat_tmp, "w") as f:
        json.dump({"segments": segments}, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(cat_tmp, os.path.join(out_dir, SEGMENTS_FILE))


def iter_spec_rows(spec: dict):
    """Executor-side row source for distributed manifest planning: yields
    sidecar row dicts from a ``{"kind": "sidecar", "path"}`` spec (one JSON
    file; torn files yield nothing → partition counts as not-done) or a
    ``{"kind": "segment", "path", "rg_start", "rg_end", "skip", "bands"}``
    spec (a row-group slice of a segment parquet; ``skip`` = pids overridden
    by loose sidecars, ``bands`` = incomplete append bands — both invisible
    here so the pid is planned exactly once, from its freshest source)."""
    if spec["kind"] == "sidecars":
        # r6 chunk form: one spec per ~256 loose sidecars (driver ships
        # names, not per-file dicts).  Same exactly-once semantics as the
        # single-file kind; the torn/vanished-file fallback resolves from
        # the chunk's segment catalog ranges.
        cat = spec.get("catalog") or []
        for name in spec["names"]:
            try:
                with open(os.path.join(spec["dir"], name)) as f:
                    yield json.load(f)
                continue
            except (json.JSONDecodeError, OSError):
                pid = part_pid(name)
                if pid < 0:
                    continue
                import pyarrow.parquet as pq

                for seg_path, lo, hi in cat:
                    if int(lo) <= pid <= int(hi):
                        tbl = pq.read_table(
                            seg_path, filters=[("partition_id", "=", pid)]
                        )
                        rows = _rows_from_segment_table(tbl)
                        if rows:
                            yield rows[0]
                            break
        return
    if spec["kind"] == "sidecar":
        try:
            with open(spec["path"]) as f:
                yield json.load(f)
            return
        except (json.JSONDecodeError, OSError):
            # the pid is in every segment spec's skip list (the driver saw a
            # loose file), so if the file vanished mid-plan (a concurrent
            # consolidation's step-5 delete) or is torn, falling through
            # would silently drop the partition from a distributed plan —
            # the local path would NOT (it falls back to the segment row).
            # Recover from the driver-supplied fallback segments (review r5).
            pid = spec.get("pid")
            for seg_path in spec.get("fallback_segs") or []:
                import pyarrow.parquet as pq

                tbl = pq.read_table(seg_path, filters=[("partition_id", "=", pid)])
                rows = _rows_from_segment_table(tbl)
                if rows:
                    yield rows[0]
                    return
            return
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(spec["path"])
    lo = int(spec.get("rg_start") or 0)
    hi = min(int(spec.get("rg_end") or pf.num_row_groups), pf.num_row_groups)
    skip = set(spec.get("skip") or [])
    bands = [(int(a), int(b)) for a, b in (spec.get("bands") or [])]
    # "keep": [lo, hi) ranges a time-travel read or rollback mask restricts
    # planning to — pids outside are invisible from this spec
    keep = RangeSet(spec["keep"]) if spec.get("keep") is not None else None
    cols = spec.get("cols")  # None = every column; else prune (must keep pid)
    if cols is not None and "partition_id" not in cols:
        cols = ["partition_id"] + list(cols)
    for rg in range(lo, hi):
        t = pf.read_row_group(rg, columns=cols)
        rows = _rows_from_segment_table(t)
        for row in rows:
            pid = int(row["partition_id"])
            if pid in skip or any(a <= pid < b for a, b in bands):
                continue
            if keep is not None and pid not in keep:
                continue
            yield row


def load_rows(out_dir: str, pids: list[int]) -> dict[int, dict]:
    """Resolve specific partition rows by id — loose sidecar first (freshest
    write), else the cataloged segments (pid-filtered parquet read, so a few
    members out of a 10⁵-row segment prune to their row groups).  Usable on
    executors (compaction member resolution).  Raises if any pid resolves
    nowhere — a silent miss would drop that partition's rows from the
    compacted output."""
    out: dict[int, dict] = {}
    missing: list[int] = []
    for pid in pids:
        try:
            with open(sidecar_path(out_dir, pid)) as f:
                out[pid] = json.load(f)
        except (json.JSONDecodeError, OSError):
            missing.append(pid)
    if missing:
        import pyarrow.parquet as pq

        want = set(missing)
        sdir = os.path.join(out_dir, SEGMENTS_DIR)
        # newest-first so first-found == latest (mirrors segment_rows'
        # later-segment-wins merge)
        for entry in reversed(segment_catalog(out_dir)):
            if not want:
                break
            if want and (int(entry["min_pid"]) > max(want) or int(entry["max_pid"]) < min(want)):
                continue
            tbl = pq.read_table(
                os.path.join(sdir, entry["file"]),
                filters=[("partition_id", "in", sorted(want))],
            )
            for row in _rows_from_segment_table(tbl):
                pid = int(row["partition_id"])
                if pid in want:
                    out[pid] = row
                    want.discard(pid)
        if want:
            raise FileNotFoundError(
                f"partitions {sorted(want)[:8]}{'…' if len(want) > 8 else ''} of "
                f"{out_dir} have neither a loose sidecar nor a segment row"
            )
    return out


def clear_manifest(out_dir: str) -> None:
    """Remove every manifest artifact — loose sidecars, blocks, segments,
    the segment catalog AND append reservations.  Every layout-clear path
    must go through here: an rmtree of ``manifest/`` alone would leave
    cataloged segments resurrecting the old partitions, and a stale append
    marker would block appends on (and hide a pid band of) the NEW dataset
    whose data it never described (review r5)."""
    import shutil

    from rugo_spark.deletes import DELETES_DIR

    shutil.rmtree(os.path.join(out_dir, MANIFEST_DIR), ignore_errors=True)
    shutil.rmtree(os.path.join(out_dir, BLOCKS_DIR), ignore_errors=True)
    shutil.rmtree(os.path.join(out_dir, SEGMENTS_DIR), ignore_errors=True)
    shutil.rmtree(os.path.join(out_dir, APPENDS_DIR), ignore_errors=True)
    shutil.rmtree(os.path.join(out_dir, DELETES_DIR), ignore_errors=True)
    # SNAPSHOTS_FILE/ROLLBACK_MARKER too: a cleared layout must not inherit
    # the old dataset's lineage (stale ranges would poison time travel) or a
    # condemned-pid mask
    for f in (SEGMENTS_FILE, CONSOLIDATE_LOCK, SNAPSHOTS_FILE, ROLLBACK_MARKER):
        try:
            os.remove(os.path.join(out_dir, f))
        except OSError:
            pass


APPENDS_DIR = "_appends"
APPEND_BAND = 1_000_000  # partition-id band reserved per append session


def append_reservations(out_dir: str) -> list[dict]:
    """All append band reservations (``_appends/append-*.json``), each
    ``{"base": int, "fingerprint": str, "complete": bool}``; unreadable
    markers surface as incomplete reservations with base -1 so allocation
    fails safe."""
    adir = os.path.join(out_dir, APPENDS_DIR)
    if not os.path.isdir(adir):
        return []
    out = []
    for name in sorted(os.listdir(adir)):
        if not (name.startswith("append-") and name.endswith(".json")):
            continue
        path = os.path.join(adir, name)
        try:
            with open(path) as f:
                m = json.load(f)
            m.setdefault("complete", False)
            m["_path"] = path
            out.append(m)
        except (json.JSONDecodeError, OSError):
            out.append({"base": -1, "fingerprint": "?", "complete": False, "_path": path})
    return out


def incomplete_append_bands(out_dir: str) -> list[tuple[int, int]]:
    """[start, end) partition-id ranges of append sessions that have NOT
    flipped their completion marker — readers must not surface these."""
    return [
        (int(m["base"]), int(m["base"]) + APPEND_BAND)
        for m in append_reservations(out_dir)
        if not m["complete"] and int(m.get("base", -1)) >= 0
    ]


def visible_partitions(out_dir: str, cols: list[str] | None = None) -> list[dict]:
    """``completed_partitions`` minus blocks inside INCOMPLETE append bands:
    the read-side half of append atomicity.  An in-flight (or crashed)
    append publishes sidecars per partition, but readers see none of them
    until the append's completion marker flips — old rows only, then old
    plus ALL new, never a torn middle.  Resume paths keep using
    ``completed_partitions`` (they must see partial state to skip it)."""
    rows = completed_partitions(out_dir, cols=cols)
    bands = incomplete_append_bands(out_dir)
    if not bands:
        return rows
    return [
        r for r in rows
        if not any(lo <= int(r["partition_id"]) < hi for lo, hi in bands)
    ]


def read_manifest(out_dir: str) -> dict:
    """rugo-parity surface: nested dict shaped like ``read_metadata``'s output
    (reference ``metadata_reader.pyx:102-174`` / ``README.md:166-200``) —
    ``{num_rows, row_groups: [{num_rows, total_byte_size, columns: [...]}],
    schema: [...]}`` with one "row group" per encoded partition and the same
    per-column field names (num_values, total_compressed_size,
    total_uncompressed_size, encodings, codec, null_count, …).
    """
    rows = completed_partitions(out_dir)
    arrow_schema, spark_schema = read_schema(out_dir)
    row_groups = []
    for r in rows:
        codecs = json.loads(r["codecs"])
        columns = []
        for name in arrow_schema.names:
            c = codecs.get(name, {})
            columns.append(
                {
                    "name": name,
                    "physical_type": str(arrow_schema.field(name).type),
                    "logical_type": str(arrow_schema.field(name).type),
                    "num_values": r["n_rows"],
                    "total_compressed_size": c.get("enc_bytes"),
                    "total_uncompressed_size": c.get("raw_bytes"),
                    "null_count": c.get("null_count"),
                    "distinct_count": None,
                    "min": c.get("min"),
                    "max": c.get("max"),
                    "encodings": [c.get("codec")] + (
                        [c["lengths_codec"]] if c.get("lengths_codec") else []
                    ),
                    "codec": c.get("outer", "zstd-auto"),
                    "key_value_metadata": {"block_path": r["block_path"]},
                }
            )
        row_groups.append(
            {
                "num_rows": r["n_rows"],
                "total_byte_size": r["output_bytes"],
                "columns": columns,
            }
        )
    return {
        "num_rows": sum(r["n_rows"] for r in rows),
        "row_groups": row_groups,
        "schema": [
            {"name": f.name, "logical_type": str(f.type), "num_children": 0}
            for f in arrow_schema
        ],
    }


# ------------------------------------------------------------- snapshots
#
# Snapshot lineage + time travel (the Iceberg snapshot-log analog, and the
# dataset-level completion of the reference's "plan from metadata" thesis,
# rugo metadata.cpp:841-872): every commit that changes READER-VISIBLE rows
# (initial encode, each append-band flip, a compaction destination) appends
# one entry to an atomic `_snapshots.json` log recording the full visible
# partition-id set as merged [lo, hi) ranges plus cumulative row/token/byte
# totals.  Within one dataset directory partitions are only ever ADDED
# (encode, then append bands; compaction writes a NEW directory), so a
# snapshot is exactly a pid set — no per-snapshot manifest copies, and the
# ranges stay tiny (dense bands) even at 10^6 partitions.
#
# Reads: `decode_table(..., snapshot_id=N)` plans only pids inside the
# snapshot's ranges — both the driver-local and the distributed planner.
# Rollback: `rollback_to_snapshot` condemns every pid outside the target
# ranges behind an atomic `_rollback.json` marker (the commit point — the
# live view equals the target the instant the marker lands), then cleans up
# idempotently (sidecars, blocks, append markers, segment rewrite, log
# truncation), removing the marker LAST so a crash anywhere mid-cleanup
# leaves the view rolled back and the cleanup resumable.

SNAPSHOTS_FILE = "_snapshots.json"
ROLLBACK_MARKER = "_rollback.json"
TAGS_FILE = "_tags.json"


def tags(out_dir: str) -> dict[str, int]:
    """Named snapshot refs (the Iceberg tag analog): {name: snapshot_id}."""
    path = os.path.join(out_dir, TAGS_FILE)
    if not os.path.exists(path):
        return {}
    try:
        with open(path) as f:
            return {str(k): int(v) for k, v in json.load(f)["tags"].items()}
    except (json.JSONDecodeError, OSError, KeyError, TypeError, ValueError) as e:
        raise ValueError(
            f"corrupt tag file {path}: {e}; fix or delete it (tags are "
            "pure refs — data is unaffected)"
        )


def _write_tags(out_dir: str, t: dict[str, int]) -> None:
    path = os.path.join(out_dir, TAGS_FILE)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"tags": t}, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def set_tag(out_dir: str, name: str, snapshot_id: int | None = None) -> dict:
    """Name a snapshot (default: the newest).  Tagged snapshots survive
    ``expire_snapshots`` until the tag is dropped — the retention-proof
    ref for releases / audits (Iceberg ``createTag``)."""
    if not name or "/" in name or name.strip() != name:
        raise ValueError(f"bad tag name {name!r}")
    log = snapshot_log(out_dir, strict=True)
    if not log:
        raise ValueError(f"{out_dir} has no snapshots to tag")
    ids = {int(e["id"]) for e in log}
    sid = int(snapshot_id) if snapshot_id is not None else int(log[-1]["id"])
    if sid not in ids:
        raise ValueError(
            f"unknown snapshot_id {sid} for {out_dir}; available: {sorted(ids)}"
        )
    t = tags(out_dir)
    t[name] = sid
    _write_tags(out_dir, t)
    return t


def drop_tag(out_dir: str, name: str) -> dict:
    t = tags(out_dir)
    if name not in t:
        raise ValueError(f"no tag {name!r} on {out_dir}; have {sorted(t)}")
    del t[name]
    _write_tags(out_dir, t)
    return t


def resolve_snapshot(out_dir: str, ref: int | str) -> int:
    """A snapshot ref — an id, or a tag name — to its snapshot id."""
    if isinstance(ref, str):
        t = tags(out_dir)
        if ref not in t:
            raise ValueError(f"no tag {ref!r} on {out_dir}; have {sorted(t)}")
        return t[ref]
    return int(ref)


class RangeSet:
    """Membership test over merged half-open [lo, hi) ranges, O(log n)."""

    def __init__(self, ranges):
        self.ranges = sorted((int(a), int(b)) for a, b in ranges)
        self._los = [a for a, _ in self.ranges]

    def __contains__(self, pid) -> bool:
        import bisect

        i = bisect.bisect_right(self._los, int(pid)) - 1
        return i >= 0 and int(pid) < self.ranges[i][1]

    def __bool__(self) -> bool:
        return bool(self.ranges)


def pids_to_ranges(pids) -> list[list[int]]:
    """Sorted-unique pids → merged half-open ``[lo, hi)`` ranges.  Dense
    id bands (base encode 0..n, append bands of 1M) merge to a handful of
    pairs even at 10^6 partitions, so the snapshot log stays tiny."""
    out: list[list[int]] = []
    for p in sorted({int(p) for p in pids}):
        if out and p == out[-1][1]:
            out[-1][1] = p + 1
        else:
            out.append([p, p + 1])
    return out


def intersect_ranges(a: list, b: list) -> list[list[int]]:
    """Intersection of two merged [lo, hi) range lists."""
    out: list[list[int]] = []
    i = j = 0
    a = sorted([int(x), int(y)] for x, y in a)
    b = sorted([int(x), int(y)] for x, y in b)
    while i < len(a) and j < len(b):
        lo = max(a[i][0], b[j][0])
        hi = min(a[i][1], b[j][1])
        if lo < hi:
            out.append([lo, hi])
        if a[i][1] <= b[j][1]:
            i += 1
        else:
            j += 1
    return out


def snapshot_log(out_dir: str, strict: bool = True) -> list[dict]:
    """Entries of ``_snapshots.json`` in commit order (oldest first).
    Missing log → [] (pre-snapshot dataset; the next commit starts one).
    Corrupt log: ``strict=True`` raises (the caller asked for history that
    cannot be read); ``strict=False`` warns and returns [] — data commits
    must never be blocked by a damaged auxiliary lineage file."""
    path = os.path.join(out_dir, SNAPSHOTS_FILE)
    if not os.path.exists(path):
        return []
    try:
        with open(path) as f:
            log = json.load(f)["snapshots"]
        assert isinstance(log, list)
        return log
    except (json.JSONDecodeError, OSError, KeyError, AssertionError) as e:
        if strict:
            raise ValueError(
                f"corrupt snapshot log {path}: {e}; time travel/rollback is "
                "unavailable until it is restored (current-state reads are "
                "unaffected — delete the file to restart history)"
            )
        import warnings

        warnings.warn(f"rugo_spark: corrupt snapshot log {path} ({e}); "
                      "starting a fresh history")
        return []


def _write_snapshot_log(out_dir: str, log: list[dict]) -> None:
    path = os.path.join(out_dir, SNAPSHOTS_FILE)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"snapshots": log}, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def commit_snapshot(
    out_dir: str,
    op: str,
    extra: dict | None = None,
    new_delete_files: list[str] | None = None,
    replace_delete_files: list[str] | None = None,
) -> dict | None:
    """Append a snapshot entry describing the CURRENT visible state.  Cost:
    one column-pruned manifest scan (n_rows/n_tokens/output_bytes), the
    same order as the planning read — consolidate regularly so it stays a
    few parquet reads at 10^5+ blocks.  Computing the FULL current set (not
    an assumed delta) makes commits self-healing: a crash that lost the
    previous snapshot append is absorbed by the next commit.  Idempotent:
    an unchanged visible set (resume re-runs) appends nothing."""
    from rugo_spark import deletes as dl

    rows = visible_partitions(
        out_dir, cols=["n_rows", "n_tokens", "output_bytes"]
    )
    ranges = pids_to_ranges(r["partition_id"] for r in rows)
    # snapshot entries carry the CUMULATIVE visible delete-file list (the
    # delete analog of `ranges` being the full pid set): self-healing across
    # crashed commits, and time travel reads ONE entry, never a log replay.
    # ``new_delete_files``: files THIS commit publishes (a plain DELETE's
    # file is referenced by nothing until its snapshot entry lands — this
    # parameter IS the reference).  ``replace_delete_files``: the entry
    # references EXACTLY this list — delete-file consolidation commits the
    # union file this way, superseding the inputs for current-state reads
    # while older entries keep them alive for time travel until expiry.
    if replace_delete_files is not None:
        delete_files = sorted(replace_delete_files)
    else:
        delete_files = sorted(
            set(dl.visible_delete_files(out_dir)) | set(new_delete_files or [])
        )
    log = snapshot_log(out_dir, strict=False)
    if (
        log
        and log[-1].get("ranges") == ranges
        and sorted(log[-1].get("delete_files") or []) == delete_files
    ):
        return None
    del_rows, del_tokens = dl.deleted_totals(out_dir, delete_files)
    import time as _time

    entry = {
        "id": (int(log[-1]["id"]) + 1) if log else 1,
        "ts": int(_time.time()),
        "op": op,
        "n_partitions": sum(b - a for a, b in ranges),
        "n_rows": sum(int(r.get("n_rows") or 0) for r in rows) - del_rows,
        "n_tokens": sum(int(r.get("n_tokens") or 0) for r in rows) - del_tokens,
        "output_bytes": sum(int(r.get("output_bytes") or 0) for r in rows),
        "ranges": ranges,
    }
    if delete_files:
        entry["delete_files"] = delete_files
    if extra:
        entry.update(extra)
    _write_snapshot_log(out_dir, log + [entry])
    return entry


def snapshot_ranges(out_dir: str, snapshot_id: int) -> list:
    """Ranges of one snapshot; raises with the available ids if unknown."""
    log = snapshot_log(out_dir, strict=True)
    entry = next((e for e in log if int(e["id"]) == int(snapshot_id)), None)
    if entry is None:
        raise ValueError(
            f"unknown snapshot_id {snapshot_id} for {out_dir}; available: "
            f"{[int(e['id']) for e in log] or 'none (no snapshot log yet)'}"
        )
    return entry["ranges"]


def rollback_mask(out_dir: str) -> list | None:
    """Target ranges of an in-progress rollback, or None.  While the marker
    exists every reader treats pids OUTSIDE these ranges as gone (they are
    condemned — cleanup deletes them).  A corrupt marker raises: the
    condemned set is unknown, so no read can be answered safely."""
    path = os.path.join(out_dir, ROLLBACK_MARKER)
    if not os.path.exists(path):
        return None
    try:
        with open(path) as f:
            m = json.load(f)
        ranges = m["ranges"]
        assert isinstance(ranges, list)
        return ranges
    except (json.JSONDecodeError, OSError, KeyError, AssertionError) as e:
        raise ValueError(
            f"corrupt rollback marker {path}: {e}; the condemned partition "
            "set is unknown — restore the marker or resolve manually before "
            "reading this dataset"
        )


def expire_snapshots(
    out_dir: str, keep_last: int = 1, older_than_s: float | None = None
) -> dict:
    """Drop expired snapshot log entries and GC delete files they were the
    last reference to (the Iceberg ``expireSnapshots`` analog).

    Retention: with only ``keep_last``, keep exactly the newest N entries.
    With ``older_than_s``, keep every entry younger than ``now -
    older_than_s`` AND at least the newest ``keep_last`` (entries from
    before the ``ts`` field existed count as infinitely old).  Kept ids
    keep their numbering, so lineage references stay stable; time travel
    to an expired id raises with the surviving ids.

    Blocks are never orphaned by expiry (partitions are append-only within
    a dataset dir; rollback, the one remover, deletes its blocks eagerly)
    — but POSITION-DELETE files superseded by a consolidation are kept
    alive only by expired entries, so expiry runs the orphan GC.  Holds the
    writer lock: racing a consolidation or rollback while rewriting the
    log would lose one side's commit."""
    import time as _time

    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    if rollback_mask(out_dir) is not None:
        raise ValueError(
            f"{out_dir} has an in-progress rollback; resume it before "
            "expiring snapshots (the log is being rewritten)"
        )
    lock = _acquire_consolidate_lock(out_dir)
    try:
        log = snapshot_log(out_dir, strict=True)
        tagged = set(tags(out_dir).values())  # tagged snapshots never expire
        if older_than_s is None:
            kept = [
                e for i, e in enumerate(log)
                if i >= len(log) - keep_last or int(e["id"]) in tagged
            ]
        else:
            cutoff = _time.time() - float(older_than_s)
            tail_ids = {int(e["id"]) for e in log[-keep_last:]}
            kept = [
                e for e in log
                if int(e["id"]) in tail_ids
                or int(e["id"]) in tagged
                or float(e.get("ts") or 0) >= cutoff
            ]
        if len(kept) != len(log):
            _write_snapshot_log(out_dir, kept)
        from rugo_spark import deletes as dl

        return {
            "expired": len(log) - len(kept),
            "kept": [int(e["id"]) for e in kept],
            "delete_files_removed": dl.gc_orphans(out_dir),
        }
    finally:
        try:
            os.remove(lock)
        except OSError:
            pass


def rollback_to_snapshot(out_dir: str, snapshot_id: int) -> dict:
    """Restore the dataset to exactly the state of ``snapshot_id``,
    physically deleting every partition committed after it (the Iceberg
    rollback analog; append bands are the only adders, so the drop set is
    whole bands).

    Protocol — atomic flip, resumable cleanup:

    1. Write ``_rollback.json`` with the target ranges (temp + rename) —
       THE commit point: every reader and resume path treats pids outside
       the ranges as gone the instant the marker lands.
    2. Truncate the snapshot log to entries ≤ the target id.
    3. Delete condemned loose sidecars, then condemned block files.
    4. Remove append markers whose band is entirely condemned.
    5. Rewrite any cataloged segment containing condemned pids: kept rows
       fold into a fresh segment, the catalog is replaced atomically, dirty
       segment files are deleted.
    6. Remove the marker LAST — a crash anywhere above leaves the view
       rolled back (masked) and this function resumable.

    Holds the consolidation lock throughout so a concurrent consolidation
    cannot fold condemned sidecars into a segment mid-rollback.  Returns
    ``{"kept_ranges", "sidecars_deleted", "blocks_deleted",
    "append_markers_deleted", "segments_rewritten"}``."""
    marker_path = os.path.join(out_dir, ROLLBACK_MARKER)
    snapshot_id = resolve_snapshot(out_dir, snapshot_id)  # tags resolve
    mask = rollback_mask(out_dir)
    keep = snapshot_ranges(out_dir, snapshot_id)
    if mask is not None and mask != keep:
        raise ValueError(
            f"{out_dir} has an in-progress rollback to different ranges "
            f"({mask}); resume THAT rollback (call rollback_to_snapshot with "
            "its snapshot id) before starting another"
        )
    lock = _acquire_consolidate_lock(out_dir)
    try:
        keep_set = RangeSet(keep)
        if mask is None:
            # anything to drop?  (read the pre-mask state directly)
            current = {
                int(r["partition_id"])
                for r in completed_partitions(out_dir, cols=["partition_id"])
            }
            if all(p in keep_set for p in current):
                log = snapshot_log(out_dir, strict=True)
                trunc = [e for e in log if int(e["id"]) <= int(snapshot_id)]
                if len(trunc) != len(log):
                    _write_snapshot_log(out_dir, trunc)
                # delete-only snapshots add no pids — truncating the log is
                # the whole rollback, and it un-references their mask files
                from rugo_spark import deletes as dl

                return {"kept_ranges": keep, "sidecars_deleted": 0,
                        "blocks_deleted": 0, "append_markers_deleted": 0,
                        "segments_rewritten": 0,
                        "delete_files_removed": dl.gc_orphans(out_dir)}
            tmp = marker_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump({"ranges": keep, "snapshot_id": int(snapshot_id)}, f)
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, marker_path)  # ← commit point
        # ---- idempotent cleanup (every step safe to re-run) ----
        log = snapshot_log(out_dir, strict=False)
        trunc = [e for e in log if int(e["id"]) <= int(snapshot_id)]
        if len(trunc) != len(log):
            _write_snapshot_log(out_dir, trunc)
        result = {"kept_ranges": keep, "sidecars_deleted": 0,
                  "blocks_deleted": 0, "append_markers_deleted": 0,
                  "segments_rewritten": 0}
        mdir = os.path.join(out_dir, MANIFEST_DIR)
        if os.path.isdir(mdir):
            for name in loose_sidecar_names(out_dir):
                pid = part_pid(name)
                if pid < 0:
                    continue
                if pid not in keep_set:
                    try:
                        os.remove(os.path.join(mdir, name))
                        result["sidecars_deleted"] += 1
                    except OSError:
                        pass
        bdir = os.path.join(out_dir, BLOCKS_DIR)
        if os.path.isdir(bdir):
            for name in os.listdir(bdir):
                pid = part_pid(name)
                if pid < 0:
                    continue
                if pid not in keep_set:
                    try:
                        os.remove(os.path.join(bdir, name))
                        result["blocks_deleted"] += 1
                    except OSError:
                        pass
        for m in append_reservations(out_dir):
            base = int(m.get("base", -1))
            if base < 0:
                continue
            if not intersect_ranges([[base, base + APPEND_BAND]], keep):
                try:
                    os.remove(m["_path"])
                    result["append_markers_deleted"] += 1
                except OSError:
                    pass
        catalog = segment_catalog(out_dir)
        sdir = os.path.join(out_dir, SEGMENTS_DIR)
        # GC uncataloged segment files (safe under the consolidation lock,
        # same as consolidate's step 1): a resume after a crash between the
        # catalog swap and the dirty-file deletion finds the replaced
        # segments uncataloged, not dirty — they are orphans
        if os.path.isdir(sdir):
            cataloged = {e["file"] for e in catalog}
            for name in os.listdir(sdir):
                if name.endswith(".parquet") and name not in cataloged:
                    try:
                        os.remove(os.path.join(sdir, name))
                    except OSError:
                        pass
        dirty, clean = [], []
        for e in catalog:
            rows = read_segment_rows(
                os.path.join(sdir, e["file"]), columns=["partition_id"]
            )
            if any(int(r["partition_id"]) not in keep_set for r in rows):
                dirty.append(e)
            else:
                clean.append(e)
        if dirty:
            kept_rows = [
                r
                for e in dirty
                for r in read_segment_rows(os.path.join(sdir, e["file"]))
                if int(r["partition_id"]) in keep_set
            ]
            new_entries = (
                [_write_segment_file(out_dir, sorted(
                    kept_rows, key=lambda r: int(r["partition_id"])
                ), len(catalog))]
                if kept_rows
                else []
            )
            _commit_catalog(out_dir, clean + new_entries)
            for e in dirty:
                try:
                    os.remove(os.path.join(sdir, e["file"]))
                except OSError:
                    pass
            result["segments_rewritten"] = len(dirty)
        # delete files referenced ONLY by truncated snapshot entries (or by
        # just-removed merge markers) are unreferenced now — rolling back
        # past a DELETE/MERGE un-deletes its rows, so drop the masks too
        from rugo_spark import deletes as dl

        result["delete_files_removed"] = dl.gc_orphans(out_dir)
        os.remove(marker_path)  # LAST: crash above stays masked + resumable
        return result
    finally:
        try:
            os.remove(lock)
        except OSError:
            pass
