"""Encode/decode pipeline: mapInArrow block writer, mapInArrow decoder, resume.

Lifecycle (SURVEY.md §3.4): plan deterministic size-balanced partition ids →
anti-join already-completed partitions from the manifest (checkpoint-restart)
→ one shuffle, ``repartition(n, __rugo_pid).mapInArrow(_block_writer)`` →
each task sorts its rows by (partition id, key column) (bit-stable blocks
regardless of shuffle arrival order), encodes every pid's run through the
block container, writes the block file and manifest sidecar atomically, and
returns one lineage row per block.  The map-only, sorted and append paths
run the same writer with one split per block.  Decode is ``mapInArrow`` over
manifest rows — one task per block file, no shuffle, streaming RecordBatches
out.

Everything data-sized stays in Arrow/numpy; Python touches only per-partition
scalars (the north rule's "no per-row Python in the hot path").
"""

from __future__ import annotations

import json
import os
import struct
import zlib

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession

from rugo_spark import manifest as mf
from rugo_spark.block import KIND_DEC128, KIND_DEC256, decode_array, encode_array

# decimal stats serialize as strings in JSON sidecars; their merge must
# compare numerically, never lexicographically (see _merge_stat)
_DECIMAL_KINDS = frozenset((KIND_DEC128, KIND_DEC256))
from rugo_spark import partitioning
from rugo_spark.partitioning import release_after_plan, with_partition_id

FILE_MAGIC = b"RGF1"
STRIPED_MAGIC = b"RGS1"
STRIPED_MAGIC2 = b"RGS2"  # RGS1 + stripe directory (per-stripe min/max)
_FHDR = struct.Struct("<4sI")
_U64 = struct.Struct("<Q")

DEFAULT_TARGET_TOKENS = 4_000_000  # per-partition token budget (sandbox scale)

# session-level partition-plan cache: input fingerprint → realized plan map
# (ANALYZE-once semantics — the fingerprint guards staleness)
_PLAN_CACHE: dict[tuple, dict] = {}


# ------------------------------------------------------------- block files

def encode_block_bytes(table: pa.Table, plans: dict | None = None) -> tuple[bytes, dict]:
    """Encode all columns of ``table`` → one flat ('RGF1') block payload."""
    plans = plans or {}
    parts = [_FHDR.pack(FILE_MAGIC, table.num_columns)]
    metas: dict[str, dict] = {}
    for name in table.column_names:
        blob, meta = encode_array(table.column(name), plans.get(name))
        parts.append(_U64.pack(len(blob)))
        parts.append(blob)
        metas[name] = meta
    return b"".join(parts), metas


def _atomic_write(path: str, payload: bytes) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = mf.inprogress_path(path)
    with open(tmp, "wb") as f:
        f.write(payload)
    os.replace(tmp, path)
    return zlib.crc32(payload)


def write_block_file(path: str, table: pa.Table, plans: dict | None = None) -> tuple[int, dict]:
    """Encode all columns of ``table`` → one block file. Atomic. Returns
    (crc32, per-column meta)."""
    payload, metas = encode_block_bytes(table, plans)
    return _atomic_write(path, payload), metas


# raw Arrow bytes per intra-block stripe for the writers that encode one
# table into one block (precombine's stripes are its map-side outputs
# instead).  Big tables become RGS2 blocks with a per-stripe min/max
# directory, so point lookups and ranged reads skip STRIPE BYTES inside one
# block instead of decoding a whole 64-128 MB split.
_STRIPE_TARGET_BYTES = 8 << 20


def _minmax_dir(metas: dict) -> dict:
    """``{col: [min, max]}`` over the columns of one stripe's (or block's)
    codec metas that carry both stats — one RGS2 directory entry."""
    return {
        c: [m["min"], m["max"]]
        for c, m in metas.items()
        if m.get("min") is not None and m.get("max") is not None
    }


def _write_rgs2(path: str, stripes: list, dir_entries: list[dict]) -> int:
    """Frame encoded stripe payloads as one RGS2 block — magic, stripe
    count, the JSON min/max directory, then length-prefixed stripes — and
    write it atomically.  Returns the block's crc32."""
    dir_blob = json.dumps(dir_entries, default=str).encode()
    parts = [STRIPED_MAGIC2, struct.pack("<I", len(stripes)),
             _U64.pack(len(dir_blob)), dir_blob]
    for blob in stripes:
        parts.append(_U64.pack(len(blob)))
        parts.append(blob)
    return _atomic_write(path, b"".join(parts))


def _write_striped_block(
    path: str, tbl: pa.Table, plans: dict | None
) -> tuple[int, dict]:
    """write_block_file, but large tables chunk into ~8 MB-raw stripes
    under an RGS2 directory.  Deterministic: stripe boundaries derive only
    from the table's own shape, so crash-resume re-encodes bit-identically."""
    n = tbl.num_rows
    per_row = max(1, tbl.nbytes // max(n, 1))
    rows_per = max(4096, _STRIPE_TARGET_BYTES // per_row)
    if n <= rows_per + rows_per // 2:  # one stripe: flat block, no directory
        return write_block_file(path, tbl, plans)
    stripes, metas_list = [], []
    for s in range(0, n, rows_per):
        payload, metas = encode_block_bytes(tbl.slice(s, min(rows_per, n - s)), plans)
        stripes.append(payload)
        metas_list.append(metas)
    crc = _write_rgs2(path, stripes, [_minmax_dir(m) for m in metas_list])
    return crc, merge_column_metas(metas_list)


def encode_block_row(
    tbl: pa.Table,
    path: str,
    partition_id: int,
    sort_key: str | None = None,
    size_col: str | None = None,
    plans: dict | None = None,
    presorted: bool = False,
) -> dict:
    """Shared kernel for every block producer that encodes one table into
    one block (``_block_writer``, recluster, the V2 batch/stream writers):
    sort, encode, write atomically, and build the manifest sidecar row
    (incl. bloom on the sort key).  ONE definition so the manifest
    vocabulary and bloom policy cannot drift between surfaces.
    ``presorted`` skips the redundant re-sort when the caller already
    ordered the rows by ``sort_key``."""
    if sort_key is not None and not presorted:
        tbl = tbl.sort_by(sort_key)
    crc, metas = _write_striped_block(path, tbl, plans)
    n_tokens = 0
    if size_col is not None:
        import pyarrow.compute as pc

        n_tokens = int(pc.sum(tbl.column(size_col)).as_py() or 0)
    row = {
        "partition_id": int(partition_id),
        "n_rows": tbl.num_rows,
        "n_tokens": n_tokens,
        "input_bytes": int(tbl.nbytes),
        "output_bytes": int(os.path.getsize(path)),
        "block_path": path,
        "checksum": int(crc),
        "codecs": json.dumps(metas, default=str),
    }
    if sort_key is not None:
        from rugo_spark import bloom as _bloom

        row["bloom_col"] = sort_key
        row["bloom"] = _bloom.build(tbl.column(sort_key))
    return row


def _merge_stat(kind, cur, new, pick):
    """Pick the min/max winner between two stat values, type-aware.

    Decimal column stats reach a merge in two forms — ``decimal.Decimal``
    (fresh in-memory metas) and decimal-strings (metas that round-tripped
    through a JSON sidecar, ``json.dumps(default=str)``).  Python ``min``/
    ``max`` on the string form is lexicographic (min('10.2','9.5')=='10.2'),
    which INVERTS the bounds; the pruning side then compares them
    numerically via Decimal, so a concat-compacted dataset would silently
    skip blocks that contain matching rows.  Compare via Decimal for decimal
    kinds and return the winner in its original representation."""
    from decimal import Decimal, InvalidOperation

    if kind in _DECIMAL_KINDS:
        def key(v):
            return v if isinstance(v, Decimal) else Decimal(str(v))

        try:
            return cur if pick(key(cur), key(new)) == key(cur) else new
        except ArithmeticError:
            raise _UnmergeableStat()
    if kind is None and isinstance(cur, str) and isinstance(new, str):
        # Legacy sidecars (written before 'kind' was recorded) carry decimal
        # stats as bare strings — indistinguishable from true string data.
        # When both operands parse as decimals AND the lexicographic winner
        # differs from the numeric winner (min('10.2','9.5')=='10.2', the
        # inversion that silently prunes matching blocks), the merge is
        # ambiguous: drop the column's bounds (None = always scan).
        try:
            if pick(Decimal(cur), Decimal(new)) != Decimal(pick(cur, new)):
                raise _UnmergeableStat()
        except (InvalidOperation, ValueError):
            pass  # not numeric-parsable on both sides: genuinely a string
    return pick(cur, new)


class _UnmergeableStat(Exception):
    """A stat pair that cannot be compared safely — drop the column's
    min/max entirely (None = always scan, conservative)."""


def merge_column_metas(metas_list: list[dict]) -> dict:
    """Merge per-stripe column metas into one manifest record per column."""
    out: dict[str, dict] = {}
    poisoned: set[str] = set()
    for metas in metas_list:
        for col, m in metas.items():
            agg = out.setdefault(
                col,
                {"codec": set(), "raw_bytes": 0, "enc_bytes": 0, "null_count": 0,
                 "min": None, "max": None, "n": 0},
            )
            if m.get("kind") is not None:
                agg["kind"] = m["kind"]
            agg["codec"].add(str(m.get("codec")))
            for k in ("raw_bytes", "enc_bytes", "null_count", "n"):
                agg[k] += int(m.get(k) or 0)
            for k, pick in (("min", min), ("max", max)):
                v = m.get(k)
                if v is not None and col not in poisoned:
                    cur = agg[k]
                    if cur is None:
                        agg[k] = v
                        continue
                    kind = agg.get("kind")
                    # fast path (measured r6: _merge_stat call overhead was
                    # ~40% of a 100k-sidecar merge): a typed non-decimal
                    # kind needs no Decimal arbitration — plain pick()
                    if kind is not None and kind not in _DECIMAL_KINDS:
                        agg[k] = pick(cur, v)
                        continue
                    try:
                        agg[k] = _merge_stat(kind, cur, v, pick)
                    except _UnmergeableStat:
                        poisoned.add(col)
            if m.get("lengths_codec"):
                agg["lengths_codec"] = m["lengths_codec"]
    for col in poisoned:
        out[col]["min"] = out[col]["max"] = None
    for agg in out.values():
        agg["codec"] = "+".join(sorted(agg["codec"]))
    return out


def _decode_flat_block(buf: memoryview, schema: pa.Schema, columns: list[str] | None):
    magic, n_cols = _FHDR.unpack_from(buf, 0)
    assert magic == FILE_MAGIC, "bad block magic"
    if n_cols > len(schema.names):
        raise ValueError(
            f"block stores {n_cols} columns but the dataset schema has only "
            f"{len(schema.names)} — the _schema.json does not describe this "
            "block (schema evolution only ADDS columns, never drops)"
        )
    off = _FHDR.size
    arrays, names = [], []
    want = set(columns) if columns is not None else None
    for i in range(n_cols):
        (ln,) = _U64.unpack_from(buf, off)
        off += 8
        name = schema.names[i]
        if want is None or name in want:
            arrays.append(decode_array(buf[off : off + ln], schema.field(name).type))
            names.append(name)
        off += ln
    # schema evolution: a block written before a column was appended stores
    # a PREFIX of the (append-only) union schema — the missing tail decodes
    # as all-NULL.  Stored prefix order == schema prefix order, and evolved
    # columns sit at the schema tail, so appending nulls last preserves the
    # projected column order exactly.
    missing = [
        n for n in schema.names[n_cols:] if want is None or n in want
    ]
    if missing:
        if arrays:
            n_rows = len(arrays[0])
        else:
            # projection asked ONLY for post-evolution columns: decode the
            # first stored column solely for its row count
            (ln,) = _U64.unpack_from(buf, _FHDR.size)
            first = decode_array(
                buf[_FHDR.size + 8 : _FHDR.size + 8 + ln],
                schema.field(schema.names[0]).type,
            )
            n_rows = len(first)
        for n in missing:
            arrays.append(pa.nulls(n_rows, type=schema.field(n).type))
            names.append(n)
    return pa.RecordBatch.from_arrays(arrays, names=names)


def _stripe_keep(dir_entry: dict, filters: list[tuple] | None) -> bool:
    """Conservative per-stripe skip test against the stripe directory's
    min/max — the intra-block analog of manifest block skipping (rugo
    surfaces per-row-group, not just per-file, stats: metadata.cpp:618-646)."""
    if not filters or not dir_entry:
        return True
    codecs = {c: {"min": mm[0], "max": mm[1]} for c, mm in dir_entry.items()}
    return all(_block_may_match(codecs, c, op, v) for c, op, v in filters)


def _read_flat_stream(f, n_cols: int, schema: pa.Schema, columns: list[str] | None):
    """`_decode_flat_block` over a FILE OBJECT positioned just PAST the
    8-byte flat header: unwanted column payloads are ``seek``ed over
    instead of read — a column-pruned scan of a block costs the bytes of
    the requested columns, not the file (the 100-TB shape: ranged reads,
    not full-object GETs).  Same null-fill/ordering contract as the
    in-memory decoder."""
    if n_cols > len(schema.names):
        raise ValueError(
            f"block stores {n_cols} columns but the dataset schema has only "
            f"{len(schema.names)} — the _schema.json does not describe this "
            "block (schema evolution only ADDS columns, never drops)"
        )
    arrays, names = [], []
    want = set(columns) if columns is not None else None
    first_payload = None  # kept only if needed for the row-count edge
    for i in range(n_cols):
        (ln,) = _U64.unpack(f.read(8))
        name = schema.names[i]
        if want is None or name in want:
            arrays.append(decode_array(f.read(ln), schema.field(name).type))
            names.append(name)
        elif i == 0:
            # projection may ask ONLY for post-evolution columns: column 0
            # is the row-count fallback, so keep its bytes instead of a
            # second read later (still skips every other unwanted column)
            first_payload = f.read(ln)
        else:
            f.seek(ln, 1)
    missing = [n for n in schema.names[n_cols:] if want is None or n in want]
    if missing:
        if arrays:
            n_rows = len(arrays[0])
        else:
            assert first_payload is not None
            n_rows = len(decode_array(first_payload, schema.field(schema.names[0]).type))
        for n in missing:
            arrays.append(pa.nulls(n_rows, type=schema.field(n).type))
            names.append(n)
    return pa.RecordBatch.from_arrays(arrays, names=names)


def read_block_file(
    path: str,
    schema: pa.Schema,
    columns: list[str] | None = None,
    filters: list[tuple] | None = None,
):
    """Decode a block file → RecordBatch generator (column-pruned if asked).

    Three layouts: flat ('RGF1', one stripe), striped ('RGS1', map-side
    pre-encoded stripes concatenated by the reduce task — one batch each),
    and directory-striped ('RGS2' = RGS1 + a per-stripe min/max directory).
    ``filters`` skip whole stripes via the RGS2 directory — a point lookup
    inside a multi-stripe block decodes only the matching stripes (the
    caller still re-applies filters exactly on the decoded rows).

    Column projection and stripe skipping SEEK over unwanted bytes instead
    of reading them: a one-column predicate scan reads ~that column's
    share of the file, and a pruned point lookup reads ~one stripe."""
    if columns is None and filters is None:
        with open(path, "rb") as f:
            buf = memoryview(f.read())
        yield from decode_block_payload(buf, schema, columns, filters)
        return
    with open(path, "rb") as f:
        head = f.read(_FHDR.size)
        magic, n = _FHDR.unpack(head)
        if magic in (STRIPED_MAGIC, STRIPED_MAGIC2):
            stripe_dir: list[dict] = []
            if magic == STRIPED_MAGIC2:
                (dlen,) = _U64.unpack(f.read(8))
                stripe_dir = json.loads(f.read(dlen))
            for i in range(n):
                (ln,) = _U64.unpack(f.read(8))
                if stripe_dir and not _stripe_keep(stripe_dir[i], filters):
                    f.seek(ln, 1)
                    continue
                sub_magic, sub_cols = _FHDR.unpack(f.read(_FHDR.size))
                assert sub_magic == FILE_MAGIC, "bad stripe magic"
                yield _read_flat_stream(f, sub_cols, schema, columns)
        else:
            assert magic == FILE_MAGIC, "bad block magic"
            yield _read_flat_stream(f, n, schema, columns)


def decode_block_payload(
    buf: memoryview,
    schema: pa.Schema,
    columns: list[str] | None = None,
    filters: list[tuple] | None = None,
):
    """`read_block_file` over an in-memory payload (callers that already
    hold the bytes — e.g. a checksum-verified read — decode without a
    second file read)."""
    magic = bytes(buf[:4])
    if magic in (STRIPED_MAGIC, STRIPED_MAGIC2):
        (n_stripes,) = struct.unpack_from("<I", buf, 4)
        off = 8
        stripe_dir: list[dict] = []
        if magic == STRIPED_MAGIC2:
            (dlen,) = _U64.unpack_from(buf, off)
            off += 8
            stripe_dir = json.loads(bytes(buf[off : off + dlen]))
            off += dlen
        for i in range(n_stripes):
            (ln,) = _U64.unpack_from(buf, off)
            off += 8
            if not stripe_dir or _stripe_keep(stripe_dir[i], filters):
                yield _decode_flat_block(buf[off : off + ln], schema, columns)
            off += ln
    else:
        yield _decode_flat_block(buf, schema, columns)


# ------------------------------------------------------------- encode job

def _conf_get(conf, key: str, default: str = "") -> str:
    """Read a Spark conf key without tripping Spark 4's default validation.

    PySpark 4 type-checks the *default* argument of ``RuntimeConf.get``
    against the key's conf type (e.g. ``""`` is not a valid bytes value for
    ``spark.sql.files.maxPartitionBytes``), so ``conf.get(key, "")`` throws
    ``INVALID_CONF_VALUE`` on any session that never set the key.  Guard the
    read and return our own default instead."""
    try:
        v = conf.get(key)
        return default if v is None else str(v)
    except Exception:
        return default


def _files_signature(df: DataFrame) -> list:
    """Per-input-file signature ``[path, size, mtime_ns]`` (stat-based
    content signal) shared by every resume fingerprint.  An in-place
    overwrite of a same-named input must read as a DIFFERENT input — a
    path-only signature would let a resume silently skip re-encoding it
    (review r4; extended to the sorted path in r5 per ADVICE).
    Non-local URIs contribute path-only, as before."""
    import urllib.parse

    sig = []
    for f in sorted(df.inputFiles()):
        p = urllib.parse.urlparse(f).path if f.startswith("file:") else (
            f if f.startswith("/") else None
        )
        try:
            st = os.stat(p) if p else None
        except OSError:
            st = None
        sig.append([f, st.st_size, st.st_mtime_ns] if st else [f])
    return sig


def _plan_signature(df: DataFrame) -> str:
    """Cross-JVM-deterministic signature of the logical plan, computed
    WITHOUT executing the query (df.rdd.getNumPartitions would finalize AQE
    stages) — catches repartition()/filter/plan changes on the same files.

    NOT ``df.semanticHash()``: that is the JVM ``hashCode`` of the
    canonicalized plan, and plan nodes hash unstably across JVM instances
    (measured: two processes reading the same parquet dir differ), which
    silently breaks every cross-process crash-resume fingerprint match.
    The canonicalized plan's *tree string* IS stable (exprIds normalized to
    ``none#N``); we hash that, plus the schema JSON because wide attribute
    lists truncate at spark.sql.debug.maxToStringFields in the string."""
    import hashlib

    try:  # classic py4j sessions; Spark Connect has no _jdf
        text = df._jdf.queryExecution().analyzed().canonicalized().toString()
    except Exception:
        text = ""
    return hashlib.sha1((text + "\x00" + df.schema.json()).encode()).hexdigest()


def _input_fingerprint(df: DataFrame, content: bool = True) -> str:
    """Deterministic id of the input layout a map-only encode keys its
    partition ids on: file list + split-size conf + split count.  Resuming
    into the same out_dir after any of these changed would silently mix
    stale and new blocks — the fingerprint guards that.

    ``content=False`` skips the identity-less content-hash pass for callers
    whose input is a pure function of state they bind into their own
    fingerprint (update_where: the source is decode(out_dir) under the
    writer lock, and its fp hashes the FULL tip snapshot entry + visible
    delete files + this plan signature — any commit in between changes the
    tip entry).  r6: the content pass executed the whole decode + to_json
    of every matched row, ~1.5 s of a 4.5 s update commit."""
    import hashlib

    sig = _files_signature(df)
    content_h = None
    if not sig and content:
        # identity-less input (in-memory LocalRelation, decode-derived
        # frame): the canonicalized plan string ELIDES row data, so two
        # same-shape inputs would collide and the second append/encode
        # would silently no-op as a "resume" of the first (real bug found
        # by the CDC-stream rollback test).  Fold in an order-independent
        # content hash — costs one extra pass over the input, which
        # identity-less inputs are small enough to afford.
        import pyspark.sql.functions as F

        row = df.select(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.crc32(F.to_json(F.struct(*df.columns)))).alias("h"),
        ).first()
        content_h = [int(row["n"] or 0), int(row["h"] or 0)]
    conf = df.sparkSession.conf
    max_bytes = _conf_get(conf, "spark.sql.files.maxPartitionBytes", "")
    blob = json.dumps(
        {
            "files": sig,
            "content": content_h,
            "maxPartitionBytes": max_bytes,
            "defaultParallelism": df.sparkSession.sparkContext.defaultParallelism,
            "plan": _plan_signature(df),
        }
    )
    return hashlib.sha1(blob.encode()).hexdigest()


def encode_table_maponly(
    df: DataFrame,
    out_dir: str,
    sort_key: str | None = None,
    size_col: str | None = None,
    plans: dict | None = None,
    on_layout_change: str = "error",
    fingerprint: str | None = None,
) -> DataFrame:
    """Shuffle-FREE encode: each input split becomes one block.

    For inputs that are already size-balanced (e.g. a well-bucketed Iceberg
    table) the quantile repartition is pure overhead — this path encodes
    splits in place (`mapInArrow`, zero data movement).  Partition ids come
    from the task's split index, which is deterministic for a fixed input
    layout + parallelism; resume re-scans but skips re-encoding completed
    splits.  The input layout is fingerprinted into ``_schema.json``; a
    resume against a changed layout raises (``on_layout_change='error'``) or
    clears the stale sidecars+blocks (``'clear'``) instead of silently mixing
    old and new data.  Use `encode_table` when the input is skewed.

    ``fingerprint`` overrides the default layout fingerprint for callers
    whose partition ids do NOT depend on the scan layout (encode_table_sorted
    routes explicitly, so split-size conf and cluster parallelism are
    irrelevant — including them would refuse legitimate cross-cluster
    resumes)."""
    spark = df.sparkSession
    fp = fingerprint if fingerprint is not None else _input_fingerprint(df)
    prev = mf.read_schema_payload(out_dir)
    if prev is not None and mf.completed_partitions(out_dir):
        if prev.get("input_fingerprint") != fp:
            if on_layout_change == "clear":
                mf.clear_manifest(out_dir)
            else:
                raise ValueError(
                    f"refusing to resume into {out_dir}: input layout changed "
                    f"(fingerprint {prev.get('input_fingerprint')} != {fp}); "
                    "pass on_layout_change='clear' to re-encode from scratch"
                )
    # size_col is recorded so later delete commits can account exact token
    # mass (delete_where reads which column n_tokens summed)
    extra = mf.carry_payload(prev, input_fingerprint=fp, size_col=size_col)
    mf.write_schema(out_dir, _arrow_schema_of(df), df.schema.json(), extra=extra)
    encoder = _block_writer(spark, out_dir, sort_key, size_col, plans, pid_base=0)
    df.mapInArrow(encoder, mf.MANIFEST_DDL).write.mode("overwrite").format("noop").save()
    mf.commit_snapshot(out_dir, "encode")
    return manifest_df(spark, out_dir)


def _pid_runs(tbl: pa.Table, sort_key: str | None):
    """Walk a table carrying ``__rugo_pid`` in (pid, sort_key) order:
    yields ``(pid, rows)`` per partition id, the pid column dropped."""
    import numpy as np

    if tbl.num_rows == 0:
        return
    keys = [("__rugo_pid", "ascending")] + ([(sort_key, "ascending")] if sort_key else [])
    tbl = tbl.sort_by(keys)
    pids = tbl.column("__rugo_pid").to_numpy()
    bounds = np.concatenate(([0], np.flatnonzero(np.diff(pids)) + 1, [len(pids)]))
    for s, e in zip(bounds[:-1], bounds[1:]):  # per block, not per row
        yield int(pids[s]), tbl.slice(s, e - s).drop_columns("__rugo_pid")


def _block_writer(spark, out_dir, sort_key, size_col, plans, pid_base: int | None = None):
    """The task-side block writer closure of every encode path: per task,
    walk the (pid, sort_key)-ordered runs, skip pids already done, encode
    each run into one block plus its sidecar, and yield the manifest rows.

    The pid comes from the ``__rugo_pid`` column (``pid_base=None``: the
    grouped encode, one task writes every pid routed to it) or is
    ``pid_base + partitionId()`` (one split, one block: the map-only,
    sorted and append paths; ``pid_base`` offsets the append band).

    Skip-if-sidecar-exists is the per-pid resume contract; pids whose
    sidecar was folded into a manifest segment (loose file deleted) are
    skipped via the segment pid set computed once on the driver — without
    it a resume after consolidation would pointlessly re-encode every
    consolidated split.  The set ships as a BROADCAST sorted int64 array
    (once per executor, a few MB at 10⁶ pids), not a closure-captured
    frozenset re-serialized with every task (review r5)."""
    import numpy as np

    if mf.segment_catalog(out_dir):
        seg_arr = np.array(sorted(mf.segment_pids(out_dir)), dtype=np.int64)
    else:
        seg_arr = np.empty(0, dtype=np.int64)
    seg_bc = spark.sparkContext.broadcast(seg_arr)

    def done(pid: int) -> bool:
        seg = seg_bc.value
        i = int(np.searchsorted(seg, pid))
        return (i < len(seg) and int(seg[i]) == pid) or os.path.exists(
            mf.sidecar_path(out_dir, pid)
        )

    def encoder(batches):
        from pyspark import TaskContext

        if pid_base is not None:
            pid = pid_base + TaskContext.get().partitionId()
            if done(pid):
                return  # resume: split already encoded
        batch_list = list(batches)
        if not batch_list:
            return
        tbl = pa.Table.from_batches(batch_list)
        if pid_base is None:
            runs = [(p, sub) for p, sub in _pid_runs(tbl, sort_key) if not done(p)]
        else:
            runs = [(pid, tbl.sort_by(sort_key) if sort_key else tbl)]
        rows = []
        for pid, sub in runs:
            row = encode_block_row(
                sub, mf.block_path(out_dir, pid), pid, sort_key=sort_key,
                size_col=size_col, plans=plans, presorted=True,
            )
            mf.write_sidecar(out_dir, row)
            rows.append(row)
        if rows:
            yield mf.manifest_batch(rows)

    return encoder


def encode_table_sorted(
    df: DataFrame,
    out_dir: str,
    key_col: str,
    num_partitions: int | None = None,
    size_col: str | None = None,
    plans: dict | None = None,
) -> DataFrame:
    """Range-partitioned, key-sorted encode: blocks carry DISJOINT key
    ranges, so manifest min/max prunes range predicates (``<``/``>=``/
    BETWEEN), not just the bloom's equality probes.  The clustered-layout
    option a scan-heavy workload wants (the analog of writing a table
    ordered by its query key so row-group stats actually bite — rugo
    surfaces exactly those per-row-group min/max for external engines,
    ``metadata.cpp:618-646``).  One shuffle; each output partition becomes
    one block via the map-only path.

    Determinism contract: Spark's own ``repartitionByRange`` seeds its
    boundary sample from the RDD id — two runs of the SAME query draw
    different boundaries, so a crash-resume would pair completed blocks
    with a re-run that assigns rows differently: silent row loss.  Instead
    the boundaries come from a seeded hash-uniform sample
    (``partitioning.range_boundaries``), are persisted to ``_plan.json``
    BEFORE any data moves, and rows route to task id == bucket id via
    murmur3 pre-images (``with_range_partition``) — bit-identical blocks on
    every run and every cluster size."""
    spark = df.sparkSession
    # require=True: every sorted dataset writes its range plan before any
    # data moves, so completed sidecars WITHOUT a plan mean the dataset was
    # written by a different path — raising here (before write_plan below)
    # keeps a mistaken sorted call from stamping a foreign dataset with a
    # range plan that would then block its legitimate resume
    resumed = mf.read_plan_checked(out_dir, require=True)
    if resumed is not None:
        if resumed.get("mode") != "range":
            raise ValueError(
                f"{out_dir} was written by a different encode path "
                f"(plan mode {resumed.get('mode')!r}); resume it with the same "
                "function or clear the dataset"
            )
        if resumed.get("key_col") != key_col:
            raise ValueError(
                f"refusing to resume {out_dir} with key_col={key_col!r}: the "
                f"dataset was range-planned on {resumed.get('key_col')!r}"
            )
        if num_partitions is not None and num_partitions != resumed.get("num_partitions"):
            raise ValueError(
                f"refusing to resume {out_dir} with num_partitions={num_partitions}: "
                f"the dataset was planned with {resumed.get('num_partitions')} "
                "(mixing layouts would duplicate or drop rows)"
            )
        n = int(resumed["num_partitions"])
        bounds = resumed["boundaries"]
    else:
        n = num_partitions or spark.sparkContext.defaultParallelism
        bounds = partitioning.range_boundaries(df, key_col, n)
        mf.write_plan(
            out_dir,
            {"mode": "range", "key_col": key_col, "num_partitions": n, "boundaries": bounds},
        )
    arranged = partitioning.with_range_partition(df, key_col, n, bounds)
    # the fingerprint keys on what partition ids ACTUALLY depend on: input
    # files + the range plan (explicit routing makes split-size conf and
    # defaultParallelism irrelevant — a different-sized cluster may resume)
    import hashlib

    fp = hashlib.sha1(
        json.dumps(
            {
                "files": _files_signature(df),
                "plan": _plan_signature(df),
                "range": {"key_col": key_col, "n": n, "boundaries": bounds},
            }
        ).encode()
    ).hexdigest()
    return encode_table_maponly(
        arranged, out_dir, sort_key=key_col, size_col=size_col, plans=plans, fingerprint=fp
    )


APPEND_BAND = mf.APPEND_BAND  # partition-id band reserved per append session


def _append_schema_ok(ds_schema, in_schema) -> bool:
    """Exact name/type equality, ONE-WAY nullability: an append whose column
    forbids nulls may land in a nullable dataset column, but an append that
    allows nulls into a non-null dataset column would break the dataset's
    own invariant — reject.  Applied recursively (arrays/structs/maps)."""

    def strip(node):
        if isinstance(node, dict):
            # metadata carries comments/provenance, not layout — two columns
            # with identical names/types must not be rejected over it
            return {
                k: strip(v)
                for k, v in node.items()
                if k not in ("nullable", "containsNull", "valueContainsNull", "metadata")
            }
        if isinstance(node, list):
            return [strip(v) for v in node]
        return node

    def nulls_ok(ds_node, in_node) -> bool:
        if isinstance(ds_node, dict) and isinstance(in_node, dict):
            for k in ("nullable", "containsNull", "valueContainsNull"):
                if in_node.get(k, False) and not ds_node.get(k, False) and k in ds_node:
                    return False
            # recurse only into keys strip() keeps: 'metadata' subtrees can
            # hold arbitrary user dicts/lists of differing shape, and the
            # documented contract says field metadata is ignored — recursing
            # there rejected schema-identical appends (ADVICE r4)
            return all(
                nulls_ok(ds_node.get(k), in_node.get(k))
                for k in ds_node
                if k != "metadata" and isinstance(ds_node.get(k), (dict, list))
            )
        if isinstance(ds_node, list) and isinstance(in_node, list):
            return len(ds_node) == len(in_node) and all(
                nulls_ok(a, b) for a, b in zip(ds_node, in_node)
            )
        return True

    return strip(ds_schema) == strip(in_schema) and nulls_ok(ds_schema, in_schema)


def append_table(
    df: DataFrame,
    out_dir: str,
    sort_key: str | None = None,
    size_col: str | None = None,
    plans: dict | None = None,
    consolidate: bool = False,
    reclaim_stale: bool = False,
    allow_new_columns: bool = False,
    _ride_delete_files: list[str] | None = None,
    _snapshot_op: str = "append",
    _fingerprint: str | None = None,
) -> DataFrame:
    """Append rows to an EXISTING encoded dataset (the Iceberg-append /
    lakehouse-ingest analog): each input split becomes one new block in a
    fresh partition-id band; every existing block, sidecar, bloom and stat
    is untouched, so readers see the old rows plus the new ones with no
    rewrite.

    Commit protocol (review-hardened, r4):

    - the append reserves the next free partition-id band ABOVE every
      completed block and every prior reservation, persisting the
      reservation (keyed by the input fingerprint, which includes local
      file size+mtime — an in-place overwrite of a same-named input is a
      NEW append, not a silent no-op) under ``_appends/`` before any data
      moves;
    - a crashed append re-runs with the SAME band and skips its completed
      partitions bit-identically;
    - readers (decode/manifest/stats/metadata_agg/format('rugo')/compact)
      see NOTHING of the band until the completion marker flips as the
      last step — old rows only, then old plus all new, never a torn
      middle (``manifest.visible_partitions``);
    - a second append while another session's band is incomplete raises
      (single-writer: allocating around a crashed band would strand it,
      and sharing it would lose rows on the first session's resume).

    Schema must match the dataset exactly on names/types (field metadata
    ignored; nullability may only tighten) — unless ``allow_new_columns``:
    then the input may carry EXTRA nullable columns (add-column schema
    evolution, the Iceberg ``ADD COLUMN`` analog).  New columns are appended
    to the dataset schema tail at commit; blocks written before the column
    existed store a prefix of the union schema and decode the missing tail
    as all-NULL (``_decode_flat_block``), which is exactly the new column's
    value for pre-existing rows — so the widening-then-commit sequence is
    never observable as a torn state.  The schema widens BEFORE the
    completion marker flips (a crash between the two resumes to the same
    end state; ``reclaim_append`` restores the stashed pre-append schema).
    Dropping or retyping columns is never allowed.  Appending to a range-sorted
    dataset keeps per-block min/max pruning correct but breaks dataset-wide
    key disjointness — run ``compact_dataset(sort_key=...)`` afterwards to
    restore clustering (compaction also rewrites ids densely, reclaiming
    band space).

    Returns the manifest rows of THIS append's band."""
    spark = df.sparkSession
    if mf.rollback_mask(out_dir) is not None:
        raise ValueError(
            f"{out_dir} has an in-progress rollback (_rollback.json): finish "
            "it (re-run rollback_to_snapshot — cleanup is resumable) before "
            "appending; a new band allocated around condemned ids could "
            "collide with their deletion"
        )
    prev = mf.read_schema_payload(out_dir)
    existing = mf.completed_partitions(out_dir)
    if prev is None or not existing:
        raise ValueError(
            f"{out_dir} is not an existing encoded dataset — use encode_table/"
            "encode_table_maponly to create one before appending"
        )
    # fingerprint the CALLER's input before any canonicalizing select below:
    # a resume of a crashed evolving append arrives after the schema already
    # widened (new_names then resolves empty, no reorder happens), and the
    # marker lookup must still land on the crashed session's band.
    # _fingerprint: an UPDATE passes a state-bound fingerprint (its source
    # derives from the dataset; the plain plan hash can collide across
    # lifecycle states)
    fp = _fingerprint if _fingerprint is not None else _input_fingerprint(df)
    # column rename/drop evolution: incoming frames speak LOGICAL names —
    # map them onto the physical layout (dropped positions get all-null
    # placeholders: blocks are positional, the slot must stay) so the
    # block format and the schema check below operate purely physically.
    # Constraint exprs only ever reference columns whose logical name ==
    # physical name (rename/drop refuse otherwise), so the enforcement
    # pass below still resolves on the translated frame.
    from rugo_spark import evolution as evo

    _view = evo.column_view(prev)
    if _view:
        import pyspark.sql.functions as F
        from pyspark.sql.types import StructType as _ST

        _l2p, _ = evo.maps(_view)
        phys = _ST.fromJson(prev["spark_schema"])
        used, exprs = set(), []
        for e in _view:
            pn = e["name"]
            if e.get("dropped"):
                exprs.append(F.lit(None).cast(phys[pn].dataType).alias(pn))
                continue
            ln = evo.logical_name(e)
            if ln not in df.columns:
                raise ValueError(
                    f"append input lacks dataset column {ln!r} of {out_dir}"
                )
            exprs.append(F.col(ln).alias(pn))
            used.add(ln)
        _extra_in = [c for c in df.columns if c not in used]
        _taken = {e["name"] for e in _view}
        for c in _extra_in:
            if c in _taken:
                raise ValueError(
                    f"new column {c!r} collides with a historical column "
                    f"name of {out_dir} (physical names are permanent); "
                    "pick a fresh name"
                )
        df = df.select(*exprs, *[F.col(c) for c in _extra_in])
        if sort_key is not None:
            sort_key = _l2p.get(sort_key, sort_key)
        if size_col is not None:
            size_col = _l2p.get(size_col, size_col)
    ds_json = prev.get("spark_schema")
    in_json = json.loads(df.schema.json())
    ds_names = [f["name"] for f in ds_json.get("fields", [])]
    in_names = [f["name"] for f in in_json.get("fields", [])]
    new_names = [n for n in in_names if n not in ds_names]
    if new_names and allow_new_columns:
        missing_ds = [n for n in ds_names if n not in in_names]
        if missing_ds:
            raise ValueError(
                f"append schema evolution only ADDS columns: input lacks "
                f"dataset columns {missing_ds} of {out_dir}"
            )
        # canonical layout: dataset columns first (in dataset order), new
        # columns at the tail — blocks then store the union-schema prefix
        # invariant _decode_flat_block relies on
        df = df.select(*ds_names, *new_names)
        in_json = json.loads(df.schema.json())
        not_nullable = [
            f["name"] for f in in_json["fields"]
            if f["name"] in new_names and not f.get("nullable", True)
        ]
        if not_nullable:
            raise ValueError(
                f"new columns must be nullable (pre-existing rows read them "
                f"as NULL): {not_nullable}"
            )
        prefix = dict(in_json, fields=in_json["fields"][: len(ds_names)])
        if not _append_schema_ok(ds_json, prefix):
            raise ValueError(
                f"append schema mismatch for {out_dir} on EXISTING columns: "
                f"dataset has {json.dumps(ds_json)[:200]}…, append input has "
                f"{json.dumps(prefix)[:200]}… (existing names/types must "
                "match exactly; only NEW nullable columns may be added)"
            )
    else:
        new_names = []
        if not _append_schema_ok(ds_json, in_json):
            raise ValueError(
                f"append schema mismatch for {out_dir}: dataset has "
                f"{json.dumps(ds_json)[:200]}…, append input has "
                f"{df.schema.json()[:200]}… (names/types must match exactly; "
                "the append may be stricter on nullability, never looser; "
                "pass allow_new_columns=True to add new nullable columns)"
            )
    # CHECK constraints: one early-exit pass over the incoming rows,
    # BEFORE any band is reserved (a violation leaves nothing to reclaim).
    # SQL CHECK semantics: only rows where a constraint is FALSE violate
    # (NULL passes).  Merge and update route through here too.
    _enforce_constraints(df, out_dir)
    appends_dir = os.path.join(out_dir, mf.APPENDS_DIR)
    os.makedirs(appends_dir, exist_ok=True)
    marker = os.path.join(appends_dir, f"append-{fp[:16]}.json")
    reservations = mf.append_reservations(out_dir)
    mine = next((m for m in reservations if m["_path"] == marker), None)
    if mine is not None:
        base = int(mine["base"])
        if base < 0:
            raise ValueError(
                f"corrupt append marker {marker}; remove it (and any "
                "sidecars/blocks in its band) before re-appending"
            )
    else:
        # single-writer gate: a DIFFERENT append session that reserved a band
        # and never completed is either still running or crashed mid-write —
        # allocating around it would strand its partial band forever (and a
        # zero-progress crash would let two sessions share a band: silent
        # row loss on the first session's resume).  Fail loudly instead.
        stale = [m for m in reservations if not m["complete"]]
        if stale and reclaim_stale:
            # roll back every crashed foreign session (band never visible,
            # so this is exactly the pre-append state), then proceed; the
            # completed/reservation views are re-read so band allocation
            # does not skip over the just-reclaimed ids
            reclaim_append(out_dir)
            reservations = mf.append_reservations(out_dir)
            stale = [m for m in reservations if not m["complete"]]
            existing = mf.completed_partitions(out_dir)
        if stale:
            raise ValueError(
                f"{out_dir} has {len(stale)} incomplete append session(s) "
                f"(e.g. band {stale[0].get('base')}, fingerprint "
                f"{str(stale[0].get('fingerprint'))[:16]}…): resume that append "
                "with its original input, or delete its marker under "
                f"{mf.APPENDS_DIR}/ plus any part-* sidecars/blocks in its "
                "band, then retry"
            )
        max_pid = max(
            [int(r["partition_id"]) for r in existing]
            + [int(m["base"]) + mf.APPEND_BAND - 1 for m in reservations]
        )
        base = (max_pid // APPEND_BAND + 1) * APPEND_BAND
        if base + APPEND_BAND > 2**31:
            raise ValueError(
                f"append band {base} would overflow the manifest's int32 "
                "partition ids (~2000 append sessions): compact the dataset "
                "(compact_dataset rewrites ids densely and clears append "
                "markers) to reclaim the id space"
            )
        reservation = {"base": base, "fingerprint": fp}
        if _ride_delete_files:
            # a MERGE's delete file rides this marker: while incomplete,
            # reclaim_append drops the file with the band; once complete,
            # the flip publishes deletions and new rows in the same rename
            reservation["delete_files"] = sorted(_ride_delete_files)
        if new_names:
            # stash the pre-append schema so reclaim_append can restore it
            # (the widening happens before the completion flip; rollback of
            # the band must also roll back the schema)
            reservation["schema_before"] = {
                k: v for k, v in prev.items() if not k.startswith("_")
            }
        _atomic_write(marker, json.dumps(reservation).encode())
    encoder = _block_writer(spark, out_dir, sort_key, size_col, plans, pid_base=base)
    df.mapInArrow(encoder, mf.MANIFEST_DDL).write.mode("append").format("noop").save()
    if new_names:
        # widen the dataset schema to the union, atomically, BEFORE the
        # completion flip.  In the crash window between the two, readers see
        # the widened schema with the band still invisible — which reads
        # identically to the committed state minus the new rows, because the
        # new column's value for every pre-existing row IS NULL.  A resume
        # re-runs this (idempotent); reclaim restores the stashed schema.
        import base64 as _b64

        cur = mf.read_schema_payload(out_dir)
        cur_names = [f["name"] for f in cur["spark_schema"]["fields"]]
        add = [n for n in new_names if n not in cur_names]
        if add:
            ds_arrow = pa.ipc.read_schema(
                pa.py_buffer(_b64.b64decode(cur["arrow_schema_b64"]))
            )
            in_arrow = _arrow_schema_of(df)
            union_arrow = pa.schema(
                list(ds_arrow) + [in_arrow.field(n) for n in add]
            )
            union_spark = dict(
                cur["spark_schema"],
                fields=cur["spark_schema"]["fields"]
                + [f for f in in_json["fields"] if f["name"] in add],
            )
            extras = {
                k: v
                for k, v in cur.items()
                if k not in ("arrow_schema_b64", "spark_schema")
            }
            if extras.get("column_view") is not None:
                # the logical view must cover every physical position
                extras["column_view"] = list(extras["column_view"]) + [
                    {"name": n} for n in add
                ]
            mf.write_schema(out_dir, union_arrow, json.dumps(union_spark), extra=extras)
    # commit: flip the completion marker LAST — readers (visible_partitions)
    # surface the whole band atomically, never a torn prefix.  Delete files
    # riding the marker UNION with any already on it: a resumed merge whose
    # mask re-computation came up empty (its own file already committed)
    # must not drop the reference — that would resurface the deleted rows
    ride = sorted(
        set(_ride_delete_files or [])
        | set((mine.get("delete_files") if mine else None) or [])
    )
    flip = {"base": base, "fingerprint": fp, "complete": True}
    if ride:
        flip["delete_files"] = ride
    _atomic_write(marker, json.dumps(flip).encode())
    mf.commit_snapshot(
        out_dir, _snapshot_op, extra={"band": base, "fingerprint": fp[:16]}
    )
    if consolidate:
        # append-commit is the natural consolidation point (VERDICT r4
        # item 2): fold every loose sidecar — the whole just-committed band
        # included — into a parquet manifest segment, AFTER the marker flip
        # so a crash here costs nothing but a later re-consolidation
        mf.consolidate_manifest(out_dir)
    import pyspark.sql.functions as F

    return manifest_df(spark, out_dir).filter(
        (F.col("partition_id") >= base) & (F.col("partition_id") < base + APPEND_BAND)
    )


def reclaim_append(out_dir: str, fingerprint: str | None = None) -> dict:
    """Roll back incomplete (crashed) append session(s): delete every
    sidecar and block the band wrote, then clear its marker — the dataset
    returns to exactly its pre-append state and new appends may proceed
    (VERDICT r4 item 6: previously a crashed foreign append blocked all
    appends until manual marker surgery).

    Safe by construction: an incomplete band was NEVER reader-visible (the
    completion marker only flips after the last partition), and the marker
    is removed LAST, so a crash mid-reclaim leaves the band still marked
    incomplete — still invisible, still reclaimable.  Consolidation never
    folds incomplete bands, so every band artifact is a loose file.

    Single-writer discipline applies: reclaiming a session that is still
    RUNNING deletes its in-flight work (it will fail or re-encode).  The
    alternative to reclaim is ADOPTION — re-run ``append_table`` with the
    session's original input and it resumes the same band bit-identically.

    ``fingerprint``: reclaim only sessions whose fingerprint starts with
    this prefix (as printed by the single-writer error); None = all
    incomplete sessions.  Returns ``{"reclaimed": [...],
    "sidecars_deleted": n, "blocks_deleted": n}``."""
    stale = [m for m in mf.append_reservations(out_dir) if not m["complete"]]
    if fingerprint is not None:
        stale = [m for m in stale if str(m.get("fingerprint", "")).startswith(fingerprint)]
        if not stale:
            raise ValueError(
                f"no incomplete append session in {out_dir} matches "
                f"fingerprint prefix {fingerprint!r}"
            )
    corrupt = [m for m in stale if int(m.get("base", -1)) < 0]
    if corrupt:
        raise ValueError(
            f"cannot reclaim {len(corrupt)} append marker(s) with unreadable "
            f"band metadata (e.g. {corrupt[0]['_path']}): the band range is "
            "unknown, so its sidecars/blocks cannot be safely identified — "
            "inspect and remove the marker and any band artifacts manually"
        )
    result = {"reclaimed": [], "sidecars_deleted": 0, "blocks_deleted": 0}
    mdir = os.path.join(out_dir, mf.MANIFEST_DIR)
    bdir = os.path.join(out_dir, mf.BLOCKS_DIR)
    for m in stale:
        base = int(m["base"])
        hi = base + mf.APPEND_BAND
        if os.path.isdir(mdir):
            for name in os.listdir(mdir):
                if name.endswith(".json") and base <= mf.part_pid(name) < hi:
                    os.remove(os.path.join(mdir, name))
                    result["sidecars_deleted"] += 1
        if os.path.isdir(bdir):
            for name in os.listdir(bdir):
                if name.endswith(".rgb") and base <= mf.part_pid(name) < hi:
                    os.remove(os.path.join(bdir, name))
                    result["blocks_deleted"] += 1
        sb = m.get("schema_before")
        if sb:
            # the crashed evolving append may have widened the schema before
            # dying — restore the stashed pre-append payload so the new
            # column does not survive as a phantom all-NULL field
            mf.write_schema_payload(out_dir, sb)
        for name in m.get("delete_files") or []:
            # a crashed MERGE's delete file rides the (incomplete) marker —
            # it was never visible; drop it with the band
            from rugo_spark import deletes as dl

            try:
                os.remove(os.path.join(out_dir, dl.DELETES_DIR, name))
            except OSError:
                pass
        os.remove(m["_path"])  # LAST: crash above leaves the band reclaimable
        result["reclaimed"].append({"base": base, "fingerprint": m.get("fingerprint")})
    return result


def _predicate_positions(batches, filters, offset_base: int = 0):
    """Evaluate ANDed ``(col, op, value)`` triples over a stream of
    RecordBatches (decoded WITHOUT stripe skipping) → block-absolute row
    positions of matching rows, plus total rows seen.  NULL comparisons are
    non-matches, matching Spark filter semantics."""
    import numpy as np
    import pyarrow.compute as pc

    _OPS = {
        "=": pc.equal, "<": pc.less, "<=": pc.less_equal,
        ">": pc.greater, ">=": pc.greater_equal,
    }
    hits = []
    off = offset_base
    for b in batches:
        m = None
        for c, op, v in filters:
            col = b.column(b.schema.get_field_index(c))
            if op == "isnull":
                cur = pc.is_null(col)
            elif op == "notnull":
                cur = pc.is_valid(col)
            elif op == "in":
                try:
                    vset = pa.array(list(v), type=col.type)
                except (pa.ArrowInvalid, pa.ArrowTypeError):
                    vset = pa.array(list(v))
                cur = pc.fill_null(pc.is_in(col, value_set=vset), False)
            else:
                try:
                    scal = pa.scalar(v, type=col.type)
                except (pa.ArrowInvalid, pa.ArrowTypeError):
                    scal = pa.scalar(v)
                cur = pc.fill_null(_OPS[op](col, scal), False)
            m = cur if m is None else pc.and_(m, cur)
        idx = np.nonzero(m.to_numpy(zero_copy_only=False))[0]
        if len(idx):
            hits.append((idx + off).astype(np.uint32))
        off += b.num_rows
    if hits:
        return np.concatenate(hits), off - offset_base
    return np.empty(0, dtype=np.uint32), off - offset_base


_DELETE_ENTRY_DDL = (
    "pid long, n_rows long, n_deleted long, deleted_tokens long, "
    "enc string, data string"
)


def _predicate_mask_entries(
    spark: SparkSession,
    out_dir: str,
    filters: list[tuple],
    size_col: str | None,
    prior_files: list[str],
    exclude_base: int | None = None,
) -> tuple[list[dict], list[int]]:
    """The predicate-delete kernel shared by ``delete_where`` and
    ``update_where``: min/max/bloom-pruned candidate blocks → ONE read of
    the predicate (+size) columns per block → per-block position sets,
    already-deleted positions subtracted.  Returns ``(entries,
    candidate_pids)`` — only kilobyte entries reach the driver.
    ``exclude_base``: an UPDATE's own append band (its replacement rows
    match the predicate by construction and must never be re-masked)."""
    from rugo_spark import deletes as dl

    arrow_schema, spark_schema_json = mf.read_schema(out_dir)
    from pyspark.sql.types import StructType as _ST

    filters = _normalize_temporal_filters(_ST.fromJson(spark_schema_json), filters)
    payload_schema = mf.read_schema_payload(out_dir) or {}
    if size_col is None:
        size_col = payload_schema.get("size_col")
    cands = [
        r
        for r in mf.visible_partitions(
            out_dir, cols=["partition_id", "block_path", "n_rows", "codecs",
                           "bloom_col", "bloom"]
        )
        if _sidecar_keep(r, filters)
        and not (
            exclude_base is not None
            and exclude_base <= int(r["partition_id"]) < exclude_base + APPEND_BAND
        )
    ]
    pids = sorted(int(r["partition_id"]) for r in cands)
    if not cands:
        return [], pids
    prior_bc = spark.sparkContext.broadcast(dl.load_raw(out_dir, prior_files))
    schema_bytes = arrow_schema.serialize().to_pybytes()
    need_cols = sorted({c for c, _, _ in filters})
    tok_col = size_col if size_col in arrow_schema.names else None
    decode_cols = sorted(set(need_cols) | ({tok_col} if tok_col else set()))

    import pandas as pd

    src = spark.createDataFrame(
        pd.DataFrame(
            {
                "pid": [int(r["partition_id"]) for r in cands],
                "block_path": [r["block_path"] for r in cands],
            }
        )
    ).repartition(min(len(cands), spark.sparkContext.defaultParallelism * 4))

    def masker(batches):
        import numpy as np

        schema = pa.ipc.read_schema(pa.py_buffer(schema_bytes))
        for batch in batches:
            out = []
            pids_ = batch.column(0).to_pylist()
            paths = batch.column(1).to_pylist()
            for pid, path in zip(pids_, paths):
                # ONE read of the predicate (+size) columns; NO stripe
                # skipping: positions are block-absolute
                tbl = pa.Table.from_batches(
                    list(read_block_file(path, schema, decode_cols, None))
                )
                matched, n_rows = _predicate_positions(tbl.to_batches(), filters)
                prior_entries = prior_bc.value.get(int(pid))
                if prior_entries is not None and len(matched):
                    matched = np.setdiff1d(
                        matched, dl.union_positions(prior_entries)
                    ).astype(np.uint32)
                if not len(matched):
                    continue
                dtok = 0
                if tok_col is not None:
                    sizes = tbl.column(tok_col).to_numpy(zero_copy_only=False)
                    dtok = int(np.nansum(sizes[matched].astype("float64")))
                enc, data = dl.encode_positions(matched, n_rows)
                out.append(
                    {
                        "pid": int(pid),
                        "n_rows": int(n_rows),
                        "n_deleted": int(len(matched)),
                        "deleted_tokens": dtok,
                        "enc": enc,
                        "data": data,
                    }
                )
            if out:
                yield pa.RecordBatch.from_pylist(out)

    entries = [
        {
            "pid": int(r["pid"]),
            "n_rows": int(r["n_rows"]),
            "n_deleted": int(r["n_deleted"]),
            "deleted_tokens": int(r["deleted_tokens"]),
            "enc": r["enc"],
            "data": r["data"],
        }
        for r in src.mapInArrow(masker, _DELETE_ENTRY_DDL).collect()
    ]
    return entries, pids


def delete_where(
    spark: SparkSession,
    out_dir: str,
    filters: list[tuple],
) -> dict:
    """Row-level DELETE (the Iceberg position-delete / Delta
    deletion-vector analog): mark every row matching the ANDed
    ``(col, op, value)`` triples deleted, WITHOUT rewriting any block.

    Plan-prune first — blocks whose min/max/bloom rule out the predicate
    are never opened (a retention delete on a range-sorted key touches only
    the matching blocks; their rows fold to a kilobyte ``"all"`` entry).
    Surviving candidates decode ONLY the predicate columns (plus the
    recorded ``size_col`` for exact token accounting) in one mapInArrow
    pass, emit per-block position sets, and the driver commits ONE delete
    file + snapshot entry.  Already-deleted positions are subtracted so
    repeated deletes are no-ops and per-file counts stay exact.

    Readers apply masks at decode; ``compact_dataset`` physically purges
    them; ``rollback_to_snapshot`` past the delete un-deletes.  Commit is
    single-writer (consolidation lock) to keep concurrent delete commits
    from double-counting overlaps.  Returns ``{"n_deleted", "n_blocks",
    "delete_file", "snapshot"}``."""
    from rugo_spark import deletes as dl

    if not filters:
        raise ValueError("delete_where requires at least one (col, op, value) filter")
    arrow_schema, _ = mf.read_schema(out_dir)
    from rugo_spark import evolution as evo

    _view = evo.column_view(mf.read_schema_payload(out_dir))
    if _view:
        filters = evo.translate_filters(filters, evo.maps(_view)[0])
    for c, op, _v in filters:
        if c not in arrow_schema.names:
            raise ValueError(f"unknown column {c!r} in delete predicate")
        if op not in ("=", "<", "<=", ">", ">=", "in", "isnull", "notnull"):
            raise ValueError(f"unsupported delete predicate op {op!r}")
    payload_schema = mf.read_schema_payload(out_dir) or {}
    size_col = payload_schema.get("size_col")
    # JSON-safe rendering of the predicate for every serialization point
    # (fingerprint, delete file, snapshot entry) — retention deletes carry
    # date/timestamp/Decimal values, which json.dumps rejects raw.  The
    # EVALUATION still uses the raw values (pa.scalar typed to the column).
    filters_json = [
        [c, op, v if isinstance(v, (int, float, str, bool, type(None))) else str(v)]
        for c, op, v in filters
    ]
    lock = mf._acquire_consolidate_lock(out_dir)
    try:
        import hashlib

        prior_files = dl.visible_delete_files(out_dir)
        entries, pids = _predicate_mask_entries(
            spark, out_dir, filters, size_col, prior_files
        )
        fp = hashlib.sha1(
            json.dumps(
                {
                    "predicate": filters_json,
                    "prior": prior_files,
                    "pids": pids,
                }
            ).encode()
        ).hexdigest()
        name = f"delete-{fp[:16]}.json"
        summary = {"n_deleted": 0, "n_blocks": 0, "delete_file": None, "snapshot": None}
        if not entries:
            return summary
        dl.write_delete_file(out_dir, name, entries, filters_json)
        snap = mf.commit_snapshot(
            out_dir,
            "delete",
            extra={"predicate": filters_json},
            new_delete_files=[name],
        )
        dl.gc_orphans(out_dir)
        return {
            "n_deleted": sum(e["n_deleted"] for e in entries),
            "n_blocks": len(entries),
            "delete_file": name,
            "snapshot": snap["id"] if snap else None,
        }
    finally:
        try:
            os.remove(lock)
        except OSError:
            pass


def set_constraint(out_dir: str, name: str, expr: str) -> dict:
    """Register a CHECK constraint (the Delta ``ALTER TABLE … ADD
    CONSTRAINT`` analog): a SQL boolean expression every FUTURE write must
    satisfy — enforced at the single write choke-point (``append_table``,
    which merge/update also route through) against the incoming rows only,
    so the check costs one pass over the WRITE, never the table.  The
    expression is validated against the current schema here; existing rows
    are NOT retro-checked (same as Delta).  Returns the constraint map."""
    import pyspark.sql.functions as F

    payload = mf.read_schema_payload(out_dir)
    if payload is None:
        raise ValueError(f"{out_dir} is not an encoded dataset")
    # rename/drop evolution invariant: constraint exprs only ever reference
    # columns whose logical name == physical name — enforcement runs on the
    # physically-translated append frame, where a renamed logical name
    # would not resolve.  (rename/drop symmetrically refuse on columns a
    # constraint references.)
    from rugo_spark import evolution as evo

    _view = evo.column_view(payload)
    logical_schema = None
    if _view:
        _l2p, _ = evo.maps(_view)
        renamed = sorted(ln for ln, pn in _l2p.items() if ln != pn)
        offenders = [ln for ln in renamed if evo._identifier_in(expr, ln)]
        if offenders:
            raise ValueError(
                f"constraint {name!r} references renamed column(s) "
                f"{offenders}; constraints may only reference columns under "
                "their original (physical) names — rewrite the dataset "
                "(compact/zorder flattens the rename) to constrain these"
            )
        by_phys = {
            f["name"]: f for f in payload["spark_schema"]["fields"]
        }
        logical_schema = {
            "type": "struct",
            "fields": [
                dict(by_phys[pn], name=ln) for ln, pn in sorted(_l2p.items())
            ],
        }
    # fail fast on typos: the expression must parse and reference only
    # dataset columns (resolution happens against an empty frame)
    from pyspark.sql import SparkSession as _SS

    spark = _SS.getActiveSession()
    if spark is not None:
        from pyspark.sql.types import StructType

        probe = spark.createDataFrame(
            [], StructType.fromJson(logical_schema or payload["spark_schema"])
        )
        try:
            probe.filter(F.expr(expr)).schema
        except Exception as e:  # noqa: BLE001 — surface the parser's message
            raise ValueError(f"constraint {name!r} does not resolve: {e}") from e
    cons = dict(payload.get("constraints") or {})
    cons[name] = expr
    payload["constraints"] = cons
    mf.write_schema_payload(out_dir, payload)
    return cons


def drop_constraint(out_dir: str, name: str) -> dict:
    payload = mf.read_schema_payload(out_dir) or {}
    cons = dict(payload.get("constraints") or {})
    if name not in cons:
        raise ValueError(
            f"no constraint {name!r} on {out_dir}; have {sorted(cons)}"
        )
    del cons[name]
    payload["constraints"] = cons
    mf.write_schema_payload(out_dir, payload)
    return cons


def _enforce_constraints(df: DataFrame, out_dir: str) -> None:
    """One early-exit pass over the incoming rows: ANY constraint violation
    aborts the write BEFORE a band is reserved (nothing to reclaim)."""
    import pyspark.sql.functions as F

    cons = (mf.read_schema_payload(out_dir) or {}).get("constraints") or {}
    if not cons:
        return
    names = sorted(cons)
    # one combined filter + limit(1): Spark stops at the first offender
    viol = df.filter(
        ~F.expr(" AND ".join(f"({cons[n]})" for n in names))
    ).limit(1).collect()
    if viol:
        row = viol[0].asDict()
        shown = {k: (str(v)[:80] if v is not None else None) for k, v in row.items()}
        raise ValueError(
            f"write to {out_dir} violates CHECK constraint(s) {names}: "
            f"first offending row {shown}"
        )


def _matched_key_mask_entries(
    spark: SparkSession,
    out_dir: str,
    df: DataFrame,
    key_col: str,
    exclude_base: int | None = None,
) -> list[dict]:
    """Positions of LIVE rows in ``out_dir`` whose ``key_col`` value appears
    in ``df`` — the delete side of a MERGE.  Fully distributed: candidate
    blocks (min/max-pruned against the incoming key bounds) stream
    ``(pid, pos, key)`` rows from one key-column decode; an inner join
    against the incoming keys (Catalyst picks broadcast vs shuffle — the
    incoming side of an upsert is usually small) keeps the matches; one
    ``applyInArrow`` per pid folds them to compressed mask entries.  Only
    the kilobyte entries ever reach the driver."""
    import numpy as np
    import pandas as pd
    import pyarrow.compute as pc
    import pyspark.sql.functions as F
    from pyspark.sql.types import StructType

    from rugo_spark import deletes as dl

    arrow_schema, _ = mf.read_schema(out_dir)
    payload_schema = mf.read_schema_payload(out_dir) or {}
    ds_json = payload_schema.get("spark_schema") or {}
    # rename evolution: ``key_col`` names the column in the CALLER's frame
    # (logical); the dataset side scans under the physical name
    from rugo_spark import evolution as evo

    _view = evo.column_view(payload_schema)
    ds_key = key_col
    if _view:
        _l2p, _ = evo.maps(_view)
        ds_key = _l2p.get(key_col, key_col)
    key_field = next(
        (f for f in ds_json.get("fields", []) if f["name"] == ds_key), None
    )
    if key_field is None or not isinstance(key_field.get("type"), str):
        raise ValueError(
            f"merge key {key_col!r} must be an atomic dataset column "
            f"(string/numeric/date/timestamp), got "
            f"{None if key_field is None else key_field.get('type')!r}"
        )
    bounds = df.agg(
        F.min(key_col).alias("lo"), F.max(key_col).alias("hi")
    ).first()
    if bounds["lo"] is None:
        return []
    filters = [(ds_key, ">=", bounds["lo"]), (ds_key, "<=", bounds["hi"])]
    cands = [
        r
        for r in mf.visible_partitions(
            out_dir, cols=["partition_id", "block_path", "n_rows", "codecs",
                           "bloom_col", "bloom"]
        )
        if _sidecar_keep(r, filters)
        # a resumed/re-run merge must never target its OWN band: those are
        # the replacement rows it appended, and re-masking them (under the
        # same deterministic file name) would overwrite the original masks
        # and resurface the replaced rows
        and not (
            exclude_base is not None
            and exclude_base <= int(r["partition_id"]) < exclude_base + APPEND_BAND
        )
    ]
    if not cands:
        return []
    prior_bc = spark.sparkContext.broadcast(
        dl.load_raw(out_dir, dl.visible_delete_files(out_dir))
    )
    schema_bytes = arrow_schema.serialize().to_pybytes()
    lo, hi = bounds["lo"], bounds["hi"]
    size_col = payload_schema.get("size_col")
    tok_col = size_col if size_col in arrow_schema.names else None
    decode_cols = sorted({ds_key} | ({tok_col} if tok_col else set()))
    k_type = arrow_schema.field(ds_key).type

    src = spark.createDataFrame(
        pd.DataFrame(
            {
                "pid": [int(r["partition_id"]) for r in cands],
                "block_path": [r["block_path"] for r in cands],
            }
        )
    ).repartition(min(len(cands), spark.sparkContext.defaultParallelism * 4))

    def scanner(batches):
        schema = pa.ipc.read_schema(pa.py_buffer(schema_bytes))

        def _flat(x, typ):
            if isinstance(x, pa.ChunkedArray):
                if x.num_chunks == 0:
                    return pa.array([], type=typ)
                x = x.combine_chunks()  # Array in pyarrow>=15, else 1-chunk
                if isinstance(x, pa.ChunkedArray):
                    x = x.chunk(0)
            return x

        for batch in batches:
            for pid, path in zip(
                batch.column(0).to_pylist(), batch.column(1).to_pylist()
            ):
                # ONE key-column read, NO stripe skipping (block-absolute pos)
                tbl = pa.Table.from_batches(
                    list(read_block_file(path, schema, decode_cols, None))
                )
                n_rows = tbl.num_rows
                k = tbl.column(ds_key).combine_chunks()
                keep = pc.fill_null(
                    pc.and_(
                        pc.greater_equal(k, pa.scalar(lo, type=k_type)),
                        pc.less_equal(k, pa.scalar(hi, type=k_type)),
                    ),
                    False,
                ).to_numpy(zero_copy_only=False).copy()
                prior = prior_bc.value.get(int(pid))
                if prior is not None:
                    keep[dl.union_positions(prior)] = False  # already deleted
                pos = np.nonzero(keep)[0]
                if not len(pos):
                    continue
                idx = pa.array(pos, type=pa.int64())
                sz = (
                    pc.fill_null(
                        pc.cast(pc.take(tbl.column(tok_col), idx), pa.int64()), 0
                    )
                    if tok_col is not None
                    else pa.array(np.zeros(len(pos), dtype=np.int64))
                )
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.full(len(pos), int(pid), dtype=np.int64)),
                        pa.array(np.full(len(pos), n_rows, dtype=np.int64)),
                        idx,
                        _flat(pc.take(k, idx), k_type),
                        _flat(sz, pa.int64()),
                    ],
                    names=["pid", "n_rows", "pos", "k", "sz"],
                )

    scan_schema = StructType.fromJson(
        {
            "type": "struct",
            "fields": [
                {"name": "pid", "type": "long", "nullable": False, "metadata": {}},
                {"name": "n_rows", "type": "long", "nullable": False, "metadata": {}},
                {"name": "pos", "type": "long", "nullable": False, "metadata": {}},
                dict(key_field, name="k", metadata={}),
                {"name": "sz", "type": "long", "nullable": True, "metadata": {}},
            ],
        }
    )
    decoded = src.mapInArrow(scanner, scan_schema)
    keys = df.select(F.col(key_col).alias("k")).distinct()
    matched = decoded.join(keys, "k", "inner")

    def fold(tbl: pa.Table) -> pa.Table:
        pid = int(tbl.column("pid")[0].as_py())
        n_rows = int(tbl.column("n_rows")[0].as_py())
        pos = np.sort(
            tbl.column("pos").to_numpy(zero_copy_only=False).astype(np.uint32)
        )
        enc, data = dl.encode_positions(pos, n_rows)
        return pa.table(
            {
                "pid": pa.array([pid], type=pa.int64()),
                "n_rows": pa.array([n_rows], type=pa.int64()),
                "n_deleted": pa.array([len(pos)], type=pa.int64()),
                "deleted_tokens": pa.array(
                    [int(tbl.column("sz").to_numpy(zero_copy_only=False).sum())],
                    type=pa.int64(),
                ),
                "enc": pa.array([enc]),
                "data": pa.array([data]),
            }
        )

    return [
        {
            "pid": int(r["pid"]),
            "n_rows": int(r["n_rows"]),
            "n_deleted": int(r["n_deleted"]),
            "deleted_tokens": int(r["deleted_tokens"]),
            "enc": r["enc"],
            "data": r["data"],
        }
        for r in matched.groupBy("pid")
        .applyInArrow(fold, _DELETE_ENTRY_DDL)
        .collect()
    ]


def delete_keys(
    spark: SparkSession,
    out_dir: str,
    key_col: str,
    keys_df: DataFrame,
) -> dict:
    """Row-level DELETE by key LIST (the GDPR / takedown shape: "remove
    these N document ids from the corpus"): every live row whose
    ``key_col`` value appears in ``keys_df``'s first column is
    position-deleted — pure metadata, no block rewritten, same mask files
    and read-side behavior as ``delete_where``.

    The key match is the MERGE's distributed kernel
    (:func:`_matched_key_mask_entries`): min/max-pruned key-column scan
    joined against the key set, per-block masks folded executor-side — so a
    10⁶-id takedown against a 100-TB corpus reads one column of the
    candidate blocks and commits kilobytes.  Idempotent: already-deleted
    positions are subtracted, so re-running (or overlapping a prior
    predicate delete) never double-counts.  Returns ``{"n_deleted",
    "n_blocks", "delete_file", "snapshot"}``."""
    import hashlib

    import pyspark.sql.functions as F

    from rugo_spark import deletes as dl

    arrow_schema, _ = mf.read_schema(out_dir)
    from rugo_spark import evolution as evo

    _view = evo.column_view(mf.read_schema_payload(out_dir))
    if _view:
        _l2p, _ = evo.maps(_view)
        if key_col not in _l2p:
            raise ValueError(
                f"unknown delete key {key_col!r} for {out_dir}; columns are "
                f"{sorted(_l2p)}"
            )
        key_col = _l2p[key_col]
    if key_col not in arrow_schema.names:
        raise ValueError(f"unknown delete key {key_col!r} for {out_dir}")
    src = keys_df.select(F.col(keys_df.columns[0]).alias(key_col)).distinct()
    lock = mf._acquire_consolidate_lock(out_dir)
    try:
        entries = _matched_key_mask_entries(spark, out_dir, src, key_col)
        summary = {"n_deleted": 0, "n_blocks": 0, "delete_file": None,
                   "snapshot": None}
        if not entries:
            return summary
        # deterministic name: prior files + touched pids + the entry content
        # (the key SET itself may be huge; its effect — the masks — is the
        # identity that matters for resume overwrites)
        fp = hashlib.sha1(
            json.dumps({
                "prior": dl.visible_delete_files(out_dir),
                "entries": [[e["pid"], e["n_deleted"], e["enc"], e["data"]]
                            for e in sorted(entries, key=lambda e: e["pid"])],
            }).encode()
        ).hexdigest()
        name = f"delete-keys-{fp[:16]}.json"
        dl.write_delete_file(out_dir, name, entries, ["keys", key_col])
        snap = mf.commit_snapshot(
            out_dir, "delete",
            extra={"predicate": ["keys", key_col]},
            new_delete_files=[name],
        )
        dl.gc_orphans(out_dir)
        return {
            "n_deleted": sum(e["n_deleted"] for e in entries),
            "n_blocks": len(entries),
            "delete_file": name,
            "snapshot": snap["id"] if snap else None,
        }
    finally:
        try:
            os.remove(lock)
        except OSError:
            pass


def update_where(
    spark: SparkSession,
    out_dir: str,
    filters: list[tuple],
    assignments: dict[str, str],
) -> dict:
    """UPDATE … SET … WHERE (completing the DML triad with
    ``delete_where`` and ``merge_table``): decode the matched rows
    (block-pruned), apply the SQL-expression ``assignments``, and commit —
    matched originals position-deleted, transformed replacements appended,
    both published by ONE atomic marker-flip (the delete file rides the
    band's marker, exactly the merge protocol).

    SQL re-run semantics, not idempotence: running the same UPDATE twice
    applies the assignments twice (the first run's replacement rows match
    the predicate again and are updated again) — same as Delta/Spark SQL.
    A crash before the flip leaves nothing visible; ``reclaim_append``
    rolls the band and its riding delete file back.

    ``assignments``: ``{column: sql_expression}``; expressions may
    reference any dataset column (``{"o_totalprice": "o_totalprice * 1.1"}``).
    New columns are not allowed (use append-evolution for that).

    Returns ``{"n_updated", "delete_file", "snapshot"}``."""
    import pyspark.sql.functions as F

    from rugo_spark import deletes as dl

    if not filters:
        raise ValueError("update_where requires at least one (col, op, value) filter")
    if not assignments:
        raise ValueError("update_where requires at least one column assignment")
    arrow_schema, _ = mf.read_schema(out_dir)
    payload_schema = mf.read_schema_payload(out_dir) or {}
    # rename/drop evolution: the UPDATE runs in LOGICAL terms end-to-end
    # (decode_table + SQL assignments), translating to physical only for
    # the mask kernel, which scans raw blocks
    from rugo_spark import evolution as evo

    _view = evo.column_view(payload_schema)
    if _view:
        _l2p, _ = evo.maps(_view)
        valid = set(_l2p)
        logical_order = [
            evo.logical_name(e) for e in _view if not e.get("dropped")
        ]
        filters_phys = evo.translate_filters(filters, _l2p)
    else:
        valid = set(arrow_schema.names)
        logical_order = list(arrow_schema.names)
        filters_phys = filters
    for c, op, _v in filters:
        if c not in valid:
            raise ValueError(f"unknown column {c!r} in update predicate")
        if op not in ("=", "<", "<=", ">", ">=", "in", "isnull", "notnull"):
            raise ValueError(f"unsupported update predicate op {op!r}")
    bad = [c for c in assignments if c not in valid]
    if bad:
        raise ValueError(
            f"unknown assignment columns {bad}; UPDATE cannot add columns "
            "(use append_table(..., allow_new_columns=True) to evolve)"
        )
    size_col = payload_schema.get("size_col")
    lock = mf._acquire_consolidate_lock(out_dir)
    try:
        # matched rows, transformed — the append side.  Decoded under the
        # lock so the source snapshot matches the masks computed below.
        src = decode_table(spark, out_dir, filters=filters)
        for c, expr in assignments.items():
            src = src.withColumn(c, F.expr(expr).cast(dict(src.dtypes)[c]))
        src = src.select(*logical_order)  # dataset order, logical names
        # the source derives FROM the dataset, so the resume fingerprint
        # must pin the lifecycle state it was decoded from: if another
        # commit (a delete, another update) lands between a crash and the
        # resume, the plan string alone can match while the source ROWS
        # differ — adopting the stale band would mix two source versions.
        # Binding the visible delete files + snapshot tip makes such a
        # resume read as a foreign band (loud single-writer error →
        # reclaim), never a silent mix.
        import hashlib

        log = mf.snapshot_log(out_dir, strict=False)
        # content=False: the source is decode(out_dir) under this writer
        # lock, i.e. a pure function of (tip state, deletes, filters,
        # assignments) — all hashed here.  Binding the FULL tip entry
        # (ranges/rows/tokens/bytes/ts), not just its id, keeps a
        # rollback-then-recommit from reading as the same state (strictly
        # stronger than the previous id binding) while skipping the content
        # pass that re-executed the whole source decode.
        fp = hashlib.sha1(
            json.dumps(
                {
                    "src": _input_fingerprint(src, content=False),
                    "deletes": dl.visible_delete_files(out_dir),
                    "tip": log[-1] if log else 0,
                },
                sort_keys=True,
                default=str,
            ).encode()
        ).hexdigest()
        own_base = next(
            (
                int(m["base"])
                for m in mf.append_reservations(out_dir)
                if m.get("fingerprint") == fp and int(m.get("base", -1)) >= 0
            ),
            None,
        )
        prior_files = dl.visible_delete_files(out_dir)
        entries, _pids = _predicate_mask_entries(
            spark, out_dir, filters_phys, size_col, prior_files,
            exclude_base=own_base,
        )
        summary = {"n_updated": 0, "delete_file": None, "snapshot": None}
        if not entries:
            return summary
        name = f"delete-update-{fp[:16]}.json"
        filters_json = [
            [c, op, v if isinstance(v, (int, float, str, bool, type(None))) else str(v)]
            for c, op, v in filters
        ]
        dl.write_delete_file(out_dir, name, entries, ["update", filters_json])
        append_table(
            src, out_dir, size_col=size_col,
            _ride_delete_files=[name], _snapshot_op="update", _fingerprint=fp,
        )
        dl.gc_orphans(out_dir)
        snap = mf.snapshot_log(out_dir, strict=False)
        return {
            "n_updated": sum(e["n_deleted"] for e in entries),
            "delete_file": name,
            "snapshot": int(snap[-1]["id"]) if snap else None,
        }
    finally:
        try:
            os.remove(lock)
        except OSError:
            pass


def merge_table(
    df: DataFrame,
    out_dir: str,
    key_col: str,
    sort_key: str | None = None,
    size_col: str | None = None,
    plans: dict | None = None,
) -> dict:
    """MERGE INTO / upsert (the Delta ``MERGE`` / Iceberg ``MERGE INTO``
    analog, delete-then-insert form): every EXISTING live row whose
    ``key_col`` value appears in ``df`` is deleted, and ALL of ``df`` is
    appended — atomically.  The delete file rides the append band's marker,
    so the single completion-flip rename publishes the replaced rows'
    disappearance and their replacements together; readers never see both
    versions, or neither.

    No existing block is rewritten (position-delete masks, like
    ``delete_where``); a later ``compact_dataset`` purges physically.
    Crash-safe end-to-end: before the flip the band AND the delete file are
    invisible (``reclaim_append`` drops both); a resume recomputes the same
    deterministic mask file and band.  Idempotent: re-running with the same
    input finds its own deletions already visible (mask recompute subtracts
    them → empty) and its band complete — the marker-flip UNION keeps the
    existing file referenced.

    Holds the dataset's single-writer (consolidation) lock from mask
    computation through commit so a concurrent ``delete_where`` cannot
    double-count overlapping positions.  Incoming rows are appended as-is —
    duplicate keys WITHIN ``df`` are the caller's responsibility.

    Returns ``{"n_replaced", "n_appended", "delete_file", "snapshot"}``."""
    from rugo_spark import deletes as dl

    spark = df.sparkSession
    arrow_schema, _ = mf.read_schema(out_dir)
    # rename evolution: key_col is a LOGICAL name; _matched_key_mask_entries
    # resolves the physical side itself, so validate against the view here
    from rugo_spark import evolution as evo

    _view = evo.column_view(mf.read_schema_payload(out_dir))
    valid_keys = set(evo.maps(_view)[0]) if _view else set(arrow_schema.names)
    if key_col not in valid_keys:
        raise ValueError(f"unknown merge key {key_col!r} for {out_dir}")
    if size_col is None:
        # inherit the dataset's token-mass column: the appended band must
        # account n_tokens the same way the deleted rows are subtracted,
        # or metadata_agg drifts from a scan after every merge
        size_col = (mf.read_schema_payload(out_dir) or {}).get("size_col")
    fp = _input_fingerprint(df)
    lock = mf._acquire_consolidate_lock(out_dir)
    try:
        own_base = next(
            (
                int(m["base"])
                for m in mf.append_reservations(out_dir)
                if m.get("fingerprint") == fp and int(m.get("base", -1)) >= 0
            ),
            None,
        )
        entries = _matched_key_mask_entries(
            spark, out_dir, df, key_col, exclude_base=own_base
        )
        name = None
        if entries:
            name = f"delete-merge-{fp[:16]}.json"
            dl.write_delete_file(
                out_dir, name, entries, predicate=["merge_keys", key_col]
            )
        man = append_table(
            df, out_dir, sort_key=sort_key, size_col=size_col, plans=plans,
            _ride_delete_files=[name] if name else None, _snapshot_op="merge",
        )
        n_appended = sum(int(r["n_rows"]) for r in man.collect())
        dl.gc_orphans(out_dir)
        snap = mf.snapshot_log(out_dir, strict=False)
        return {
            "n_replaced": sum(e["n_deleted"] for e in entries),
            "n_appended": n_appended,
            "delete_file": name,
            "snapshot": int(snap[-1]["id"]) if snap else None,
        }
    finally:
        try:
            os.remove(lock)
        except OSError:
            pass


def encode_table(
    df: DataFrame,
    out_dir: str,
    key_col: str | None = None,
    size_col: str | None = None,
    num_partitions: int | None = None,
    target_tokens: int = DEFAULT_TARGET_TOKENS,
    plans: dict | None = None,
    precombine: bool | str = "auto",
) -> DataFrame:
    """Encode ``df`` into ``out_dir`` (blocks + manifest). Resumable.

    ``size_col`` drives size-balanced partitioning (token mass); ``key_col``
    makes partition assignment + intra-block order deterministic.
    ``precombine`` is the map-side-combine plan: stripes are encoded
    *before* the shuffle, so the wire carries compressed bytes (~4× less
    shuffle volume) and the reduce task only concatenates.  Measured
    cross-over: grouped wins on small inputs (per-stripe overhead), precombine
    wins ≥3× once the shuffle no longer fits cache (2.4B tokens: 56 vs 15
    Mtok/s) — 'auto' switches on total mass.
    Returns the manifest DataFrame (one lineage row per partition).
    """
    spark = df.sparkSession
    # planning reuse, cheapest source first:
    #   1. the plan persisted beside an in-progress manifest (resume: zero
    #      planning scan, partition ids stable by construction, not by
    #      re-derivation)
    #   2. a session-level cache keyed by the input fingerprint (ANALYZE-once
    #      semantics: re-encoding the same table re-uses its size stats)
    #   3. a fresh bounded planning scan, persisted before any data moves so
    #      a crash at any point resumes consistently
    # require=False: plan-less resumes are legitimate here (the distributed-
    # window path persists no map), but an unreadable plan fails loudly
    resumed_plan = mf.read_plan_checked(out_dir)
    cache_key = None
    prev_plan = resumed_plan
    if resumed_plan is not None:
        if resumed_plan.get("mode") == "range":
            raise ValueError(
                f"{out_dir} was written by encode_table_sorted (range plan); "
                "resume it with encode_table_sorted or clear the dataset"
            )
        if num_partitions is not None and num_partitions != resumed_plan.get("num_partitions"):
            raise ValueError(
                f"refusing to resume {out_dir} with num_partitions={num_partitions}: "
                f"the dataset was planned with {resumed_plan.get('num_partitions')} "
                "(mixing layouts would duplicate or drop rows)"
            )
        num_partitions = None  # persisted plan wins on resume
    elif size_col is not None and _files_signature(df):
        # cache ONLY inputs with a file identity: a foreachBatch micro-batch
        # (or createDataFrame local) has no inputFiles and its canonicalized
        # plan string is IDENTICAL across epochs — and across datasets with
        # the same schema — so caching it replays the first epoch's split
        # plan everywhere (found as a deterministic cross-test collision:
        # a 200k-target plan hijacked a 30k-target encode).  target_tokens /
        # num_partitions are part of the key: same input, different sizing
        # knobs, different plan.
        cache_key = (
            _input_fingerprint(df), size_col, key_col,
            int(target_tokens or 0), int(num_partitions or 0),
        )
        prev_plan = _PLAN_CACHE.get(cache_key)
    planned, num_partitions, total_mass, plan_map = with_partition_id(
        df,
        num_partitions,
        size_col=size_col,
        key_col=key_col,
        target_mass=target_tokens,
        plan_map=prev_plan,
    )
    if plan_map is not None:
        if resumed_plan is None:
            mf.write_plan(out_dir, plan_map)
        if cache_key is not None:
            if len(_PLAN_CACHE) > 8:
                _PLAN_CACHE.clear()
            _PLAN_CACHE[cache_key] = plan_map
    plan_handle = planned  # carries the cached-histogram handle for release
    if precombine == "auto":
        # big jobs (≥ ~500M tokens through the shuffle) flip to map-side
        # stripe encoding; small jobs keep the cheaper grouped path
        precombine = total_mass >= 500_000_000

    # checkpoint-restart: skip partitions whose sidecar already exists
    done = [r["partition_id"] for r in mf.completed_partitions(out_dir)]
    if done:
        import pandas as pd
        import pyspark.sql.functions as F

        done_df = spark.createDataFrame(
            pd.DataFrame({"__rugo_pid": pd.array(done, dtype="int32")})
        )
        planned = planned.join(F.broadcast(done_df), "__rugo_pid", "left_anti")

    # resume must not drop durable payload state added after the first run
    mf.write_schema(
        out_dir,
        _arrow_schema_of(df),
        df.schema.json(),
        extra=mf.carry_payload(mf.read_schema_payload(out_dir), size_col=size_col),
    )
    sort_key = key_col

    if precombine:
        # Small-stripe path: per-stripe FSST training (~20 ms) would dominate
        # 1-2 MB stripes, so pin job-level string codec plans (symbol table
        # trained once from a bounded sample, persisted for resume) — stripes
        # become compress-only at ~200 MB/s (VERDICT r3 #7)
        plans = _auto_string_plans(df, out_dir, plans)
        try:
            return _encode_precombine(
                spark, planned, out_dir, sort_key, size_col, num_partitions, plans
            )
        finally:
            release_after_plan(plan_handle)

    # ONE shuffle on the partition id; the reduce stage may run FEWER tasks
    # than logical partitions (each task slices its rows per pid and writes
    # one block per pid).  Task count ≠ block count on purpose: driver task
    # scheduling is serial (~ms/task), so at 10⁵⁻⁶ partitions a one-task-per-
    # block layout is driver-bound (same lesson as the decode-side heuristic).
    # BUT compressing tasks costs balance — hash collisions of pids into few
    # buckets make 2-3× heavy tasks (measured: 64 tasks for 256 pids ran 17%
    # slower than 256/256) — so stay one-task-per-pid until the task count
    # itself becomes the bottleneck (≥8 waves/core), then keep ≥8 pids/task
    # so collision variance stays ~1/√8.  repartition with an explicit count
    # pins the exchange against AQE's byte-targeted coalescer (blind to
    # Python-side encode cost).
    par = spark.sparkContext.defaultParallelism
    if num_partitions <= par * 8:
        n_tasks = int(num_partitions)
    else:
        n_tasks = max(par * 8, int(num_partitions) // 8)
    shuffled = planned.repartition(n_tasks, "__rugo_pid")
    encoder = _block_writer(spark, out_dir, sort_key, size_col, plans)
    result = shuffled.mapInArrow(encoder, mf.MANIFEST_DDL)
    try:
        result.write.mode("overwrite").format("noop").save()
    finally:
        release_after_plan(plan_handle)
    mf.commit_snapshot(out_dir, "encode")
    return manifest_df(spark, out_dir)


_CODEC_SAMPLE_ROWS = 512
_CODEC_SAMPLE_BYTES = 1 << 20  # per-column training budget


def _sample_bytes(vals: list, is_str: bool) -> bytes:
    """Training bytes from a value list: STRIDED rows + a per-value byte
    budget.  Taking the head would undo the cross-split sampling (rows
    arrive partition-ordered, so the head is the first splits only), and an
    un-budgeted join lets the first ~128 8 KiB values eat the whole 1 MB
    byte cap (review r5) — both reintroduce single-distribution bias into
    the pinned FSST table."""
    stride = max(1, len(vals) // _CODEC_SAMPLE_ROWS)
    vals = vals[::stride][:_CODEC_SAMPLE_ROWS]
    budget = max(2048, _CODEC_SAMPLE_BYTES // max(len(vals), 1))
    if is_str:
        data = b"".join(v.encode()[:budget] for v in vals)
    else:
        data = b"".join((v or b"")[:budget] for v in vals)
    return data[:_CODEC_SAMPLE_BYTES]


def _build_string_plans(sample: pa.Table) -> dict:
    """Per string/binary column: decide the byte codec ONCE from a bounded
    sample and, when FSST wins, train + serialize its symbol table.

    Mirrors ``_select_str_codec``'s per-stripe logic at job level:
    dict-worthy (low-cardinality) columns are left unpinned — the per-stripe
    dict path is cheap and adapts; everything else gets a pinned
    'raw'/'fsst' decision so stripes skip both the selection trial and
    training.  Every quantity is derived from the sample bytes alone —
    deterministic given the sample, which is persisted-by-decision via
    ``write_codec_plans`` before any data moves."""
    import base64

    import pyarrow.compute as pc

    from rugo_spark.codecs import fsst as _fsst
    from rugo_spark.codecs import general as _g

    plans: dict = {}
    for name in sample.column_names:
        col = sample.column(name)
        if isinstance(col, pa.ChunkedArray):
            col = col.combine_chunks()
        t = col.type
        is_str = pa.types.is_string(t) or pa.types.is_large_string(t)
        is_bin = pa.types.is_binary(t) or pa.types.is_large_binary(t)
        if not (is_str or is_bin):
            continue
        dense = pc.drop_null(col)
        n = len(dense)
        if n == 0:
            continue
        if is_str:
            card = len(pc.unique(dense))
            # Pin only NEAR-UNIQUE columns (free text, urls, ids).  Any
            # visible repetition in a ~512-row sample means a 16k-row stripe
            # may well sit under the per-stripe dict threshold (n//8 at
            # stripe scale ≈ 2048) even though it exceeds n//8 here (≈ 64):
            # pinning raw/fsst there would bypass the better dict encoding
            # job-wide (review r4).  Repetitive columns stay adaptive.
            if card < n * 0.9:
                continue  # leave to the cheap per-stripe selector
        data = _sample_bytes(dense.to_pylist(), is_str)
        if len(data) < 4096:
            continue  # too little signal to pin a job-wide decision
        raw_z = len(_g.wrap(data, _g.ZSTD))
        if raw_z * 6 < len(data):
            plans[name] = {"data": "raw"}  # zstd alone crushes it
            continue
        table = _fsst.train(data)
        stream = _fsst.compress(data, table)
        fsst_payload_z = len(_g.wrap(_fsst.encode(data, table=table), _g.ZSTD))
        if fsst_payload_z < raw_z * 0.95:
            plans[name] = {
                "data": "fsst",
                "fsst_table": base64.b64encode(_fsst.serialize_table(table)).decode(),
                "fsst_ratio": len(stream) / len(data),
            }
        else:
            plans[name] = {"data": "raw"}
    return plans


def _auto_string_plans(df: DataFrame, out_dir: str, plans: dict | None) -> dict | None:
    """Job-level codec-plan pinning for the small-stripe (precombine) path.

    Resume replays the persisted decision exactly; datasets started before
    this feature (sidecars but no ``_codec_plans.json``) stay unpinned so
    their re-encoded partitions remain bit-identical to the original run.
    User-supplied ``plans`` entries always win over pinned ones."""
    persisted = mf.read_codec_plans(out_dir)
    if persisted is None:
        if mf.completed_partitions(out_dir):
            return plans  # legacy in-progress dataset: keep r3 behavior
        # project ONLY the string/binary columns, truncated executor-side:
        # 512 untruncated rows of a 1 MB-document corpus would pull ~0.5 GB
        # to the driver per column to feed a 1 MB training budget (review
        # r4).  8 KiB per value keeps symbol-table training signal intact.
        import pyspark.sql.functions as F
        from pyspark.sql.types import BinaryType, StringType

        proj = [
            F.expr(f"substring(`{f.name}`, 1, 8192)").alias(f.name)
            for f in df.schema.fields
            if isinstance(f.dataType, (StringType, BinaryType))
        ]
        if not proj:
            persisted = {}
        else:
            # CROSS-SPLIT sample: a bare limit(512) short-circuits on the
            # first split, so a corpus ordered by source trains the pinned
            # table on one source's distribution (measured ~2% size cost at
            # 1.5 MB stripes vs a cross-stripe sample, r5).  Take the first
            # few rows of EVERY split (each task reads one record batch) and
            # limit on top; above 4096 splits fall back to limit alone —
            # 10⁶ sampling tasks would cost more than the 2% they save.
            sdf = df.select(proj)
            try:
                n_splits = len(df.inputFiles())
            except Exception:  # noqa: BLE001 — non-file sources
                n_splits = 0
            if 0 < n_splits <= 4096:
                # every split contributes: the row cap scales to per×splits
                # (≤4096 rows ≈ 32 MB at the 8 KiB truncation) instead of a
                # flat 512 that CollectLimit would fill from the first ~256
                # splits alone (review r5); _build_string_plans strides back
                # down to its row budget
                per = max(1, _CODEC_SAMPLE_ROWS // n_splits)
                ddl = ", ".join(
                    f"`{f.name}` {f.dataType.simpleString()}" for f in sdf.schema.fields
                )

                def _first_rows(batches):
                    for batch in batches:
                        yield batch.slice(0, per)
                        return

                sdf = sdf.mapInArrow(_first_rows, ddl).limit(
                    max(_CODEC_SAMPLE_ROWS, per * n_splits)
                )
            else:
                sdf = sdf.limit(_CODEC_SAMPLE_ROWS)
            sample = (
                sdf.toArrow()
                if hasattr(sdf, "toArrow")
                else pa.Table.from_pandas(sdf.toPandas())
            )
            persisted = _build_string_plans(sample)
        mf.write_codec_plans(out_dir, persisted)
    if not persisted:
        return plans
    merged = {k: dict(v) for k, v in persisted.items()}
    for col, p in (plans or {}).items():
        if isinstance(p, dict) and col in merged:
            merged[col] = {**merged[col], **p}
        else:
            merged[col] = p
    return merged


# precombine's map-side output: one encoded stripe per (map task, pid) run
_STRIPE_ARROW = pa.schema([
    ("partition_id", pa.int32()),
    ("stripe", pa.binary()),
    ("n_rows", pa.int64()),
    ("n_tokens", pa.int64()),
    ("input_bytes", pa.int64()),
    ("min_key", pa.string()),
    ("meta", pa.string()),
    ("bloom", pa.string()),
])


def _encode_precombine(
    spark, planned, out_dir, sort_key, size_col, num_partitions, plans
) -> DataFrame:
    """Map-side-combine encode: stripes encoded in the map stage, shuffled
    compressed, concatenated per partition in the reduce stage."""
    from pyspark.sql.pandas.types import from_arrow_schema

    def map_encode(batches):
        import pyarrow.compute as pc

        batch_list = list(batches)
        if not batch_list:
            return
        for pid, sub in _pid_runs(pa.Table.from_batches(batch_list), sort_key):
            payload, metas = encode_block_bytes(sub, plans)
            n_tokens = int(pc.sum(sub.column(size_col)).as_py() or 0) if size_col else 0
            min_key = str(sub.column(sort_key)[0].as_py()) if sort_key else ""
            if sort_key:
                from rugo_spark import bloom as _bloom

                bloom_json = json.dumps(_bloom.build(sub.column(sort_key)))
            else:
                bloom_json = ""
            yield pa.RecordBatch.from_pylist(
                [
                    {
                        "partition_id": pid,
                        "stripe": payload,
                        "n_rows": sub.num_rows,
                        "n_tokens": n_tokens,
                        "input_bytes": int(sub.nbytes),
                        "min_key": min_key,
                        "meta": json.dumps(metas, default=str),
                        "bloom": bloom_json,
                    }
                ],
                schema=_STRIPE_ARROW,
            )

    stripes = planned.mapInArrow(map_encode, from_arrow_schema(_STRIPE_ARROW))

    def assemble(key: tuple, table: pa.Table) -> pa.Table:
        pid = int(key[0].as_py())
        # deterministic TOTAL stripe order: (min_key, n_rows) can tie (two
        # map tasks emitting equal-shaped stripes), and a stable sort would
        # then preserve shuffle ARRIVAL order — block bytes must not depend
        # on that (speculative attempts must publish identical bytes), so
        # the stripe payload's crc32 breaks ties content-deterministically
        crcs = pa.array(
            [zlib.crc32(s.as_py()) for s in table.column("stripe")], pa.int64()
        )
        table = table.append_column("_stripe_crc", crcs)
        order = pa.compute.sort_indices(
            table,
            sort_keys=[
                ("min_key", "ascending"),
                ("n_rows", "ascending"),
                ("_stripe_crc", "ascending"),
            ],
        )
        table = table.take(order).drop_columns("_stripe_crc")
        metas_list = [json.loads(m) for m in table.column("meta").to_pylist()]
        # stripe directory: per-stripe per-column min/max, so point lookups
        # can skip stripes INSIDE a block (rugo's per-row-group stats analog)
        path = mf.block_path(out_dir, pid)
        crc = _write_rgs2(
            path, table.column("stripe").to_pylist(),
            [_minmax_dir(m) for m in metas_list],
        )
        merged = merge_column_metas(metas_list)
        row = {
            "partition_id": pid,
            "n_rows": int(pa.compute.sum(table.column("n_rows")).as_py() or 0),
            "n_tokens": int(pa.compute.sum(table.column("n_tokens")).as_py() or 0),
            "input_bytes": int(pa.compute.sum(table.column("input_bytes")).as_py() or 0),
            "output_bytes": int(os.path.getsize(path)),
            "block_path": path,
            "checksum": int(crc),
            "codecs": json.dumps(merged, default=str),
        }
        blooms = [json.loads(b) for b in table.column("bloom").to_pylist() if b]
        if blooms and sort_key is not None:
            from rugo_spark import bloom as _bloom

            row["bloom_col"] = sort_key
            row["bloom"] = _bloom.union(blooms)
        mf.write_sidecar(out_dir, row)
        return pa.Table.from_batches([mf.manifest_batch([row])])

    result = stripes.groupBy("partition_id").applyInArrow(assemble, mf.MANIFEST_DDL)
    conf = spark.conf
    prev = _conf_get(conf, "spark.sql.shuffle.partitions", "200")
    prev_coalesce = _conf_get(conf, "spark.sql.adaptive.coalescePartitions.enabled", "true")
    try:
        conf.set("spark.sql.shuffle.partitions", str(num_partitions))
        conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        result.write.mode("overwrite").format("noop").save()
    finally:
        conf.set("spark.sql.shuffle.partitions", prev)
        conf.set("spark.sql.adaptive.coalescePartitions.enabled", prev_coalesce)
    mf.commit_snapshot(out_dir, "encode")
    return manifest_df(spark, out_dir)


def _arrow_schema_of(df: DataFrame) -> pa.Schema:
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(df.schema)


def manifest_df(spark: SparkSession, out_dir: str) -> DataFrame:
    import pandas as pd

    from pyspark.sql.types import StructType

    rows = mf.visible_partitions(out_dir)
    spark_schema = StructType.fromDDL(mf.MANIFEST_DDL)
    if not rows:
        return spark.createDataFrame([], spark_schema)
    # pandas → Arrow createDataFrame path: no Python-RDD workers involved
    pdf = pd.DataFrame(rows, columns=[f.name for f in spark_schema.fields])
    return spark.createDataFrame(pdf, spark_schema)


def snapshots_df(spark: SparkSession, out_dir: str) -> DataFrame:
    """The dataset's snapshot lineage as a DataFrame (the Iceberg
    ``.snapshots`` metadata-table analog): one row per commit that changed
    reader-visible rows, with cumulative row/token/byte totals and the
    visible pid ranges (JSON).  Feed ``snapshot_id`` values into
    ``decode_table``/``metadata_agg`` for time travel, or into
    ``manifest.rollback_to_snapshot``."""
    import pandas as pd

    from pyspark.sql.types import StructType

    schema = StructType.fromDDL(
        "snapshot_id int, op string, n_partitions long, n_rows long, "
        "n_tokens long, output_bytes long, ranges string"
    )
    log = mf.snapshot_log(out_dir, strict=True)
    if not log:
        return spark.createDataFrame([], schema)
    pdf = pd.DataFrame(
        {
            "snapshot_id": [int(e["id"]) for e in log],
            "op": [e.get("op") for e in log],
            "n_partitions": [int(e.get("n_partitions") or 0) for e in log],
            "n_rows": [int(e.get("n_rows") or 0) for e in log],
            "n_tokens": [int(e.get("n_tokens") or 0) for e in log],
            "output_bytes": [int(e.get("output_bytes") or 0) for e in log],
            "ranges": [json.dumps(e.get("ranges")) for e in log],
        }
    )
    return spark.createDataFrame(pdf, schema)


def stats_df(spark: SparkSession, out_dir: str) -> DataFrame:
    """Per-(partition, column) statistics table — the reference's
    one-row-per-(row_group, column) stats surface (SURVEY.md §1.1) as a
    DataFrame: codec, encoded/raw bytes, null_count, min/max, distinct est."""
    import pandas as pd

    rows = []
    for r in mf.visible_partitions(out_dir):
        for col, m in json.loads(r["codecs"]).items():
            rows.append(
                {
                    "partition_id": r["partition_id"],
                    "column": col,
                    "codec": str(m.get("codec")),
                    "enc_bytes": int(m.get("enc_bytes") or 0),
                    "raw_bytes": int(m.get("raw_bytes") or 0),
                    "null_count": int(m.get("null_count") or 0),
                    "min": str(m.get("min")) if m.get("min") is not None else None,
                    "max": str(m.get("max")) if m.get("max") is not None else None,
                    "distinct_est": int(m["distinct_est"]) if m.get("distinct_est") else None,
                }
            )
    pdf = pd.DataFrame(
        rows,
        columns=["partition_id", "column", "codec", "enc_bytes", "raw_bytes",
                 "null_count", "min", "max", "distinct_est"],
    )
    return spark.createDataFrame(
        pdf,
        "partition_id int, column string, codec string, enc_bytes long, "
        "raw_bytes long, null_count long, min string, max string, distinct_est long",
    )


def _meta_aggregatable(t: pa.DataType) -> bool:
    """Types whose sidecar min/max merge correctly with Python min()/max():
    ints, floats, bools, strings and temporals (stored as native JSON values
    or ISO strings).  Decimals are stored as decimal-strings (pruning
    compares via Decimal); nested/binary carry no stats — both excluded."""
    return (
        pa.types.is_integer(t)
        or pa.types.is_floating(t)
        or pa.types.is_boolean(t)
        or pa.types.is_string(t)
        or pa.types.is_large_string(t)
        or pa.types.is_temporal(t)
    )


def _metadata_partials_distributed(
    spark: SparkSession, out_dir: str, cols: list[str], keep_ranges=None
):
    """Per-task pre-merge of manifest stats: executors parse + merge their
    slice of the manifest (loose sidecars AND segment row-group slices) with
    ``merge_column_metas`` and emit ONE partial row each; the driver merges
    only #tasks rows.  Same switch point as decode planning
    (``_plan_df_distributed``) — at 10⁵–10⁶ partitions the driver never
    holds more than task-count JSON documents."""
    specs, n_loose = _manifest_scan_specs(
        out_dir, cols=["n_rows", "n_tokens", "codecs"], keep_ranges=keep_ranges
    )
    src = _spec_src_df(spark, specs, n_loose)
    want = set(cols)

    def merger(batches):
        for batch in batches:
            n_rows = n_tokens = 0
            metas_list = []
            missing: dict[str, int] = {}
            for spec_json in batch.column(0).to_pylist():
                for row in mf.iter_spec_rows(json.loads(spec_json)):
                    n_rows += int(row["n_rows"])
                    n_tokens += int(row.get("n_tokens") or 0)
                    cd = json.loads(row["codecs"])
                    metas_list.append({c: m for c, m in cd.items() if c in want})
                    # pre-evolution partitions: their rows are NULLs for the
                    # columns they predate (see metadata_agg)
                    for c in want:
                        if c not in cd:
                            missing[c] = missing.get(c, 0) + int(row["n_rows"])
            if metas_list:
                merged = merge_column_metas(metas_list)
                for c, n in missing.items():
                    agg = merged.setdefault(
                        c, {"min": None, "max": None, "null_count": 0}
                    )
                    agg["null_count"] = int(agg.get("null_count") or 0) + n
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array([n_rows], pa.int64()),
                        pa.array([n_tokens], pa.int64()),
                        pa.array([json.dumps(merged, default=str)], pa.string()),
                    ],
                    names=["n_rows", "n_tokens", "codecs"],
                )

    out = src.mapInArrow(merger, "n_rows long, n_tokens long, codecs string")
    return [r.asDict() for r in out.collect()]


def metadata_agg(
    spark: SparkSession,
    out_dir: str,
    columns: list[str] | None = None,
    distributed: bool | None = None,
    snapshot_id: int | None = None,
) -> DataFrame:
    """COUNT / MIN / MAX / null-count answered from the manifest alone —
    zero data blocks are opened.

    This is the reference's core capability — statistics straight from
    footer metadata instead of data reads (rugo ``README.md:11`` "10-50x
    faster than PyArrow", per-row-group stats surface
    ``metadata.cpp:618-646``) — lifted from per-file to dataset level: the
    per-partition sidecar min/max merge across the manifest exactly the way
    rugo merges row-group statistics, so a 100 TB dataset answers these
    aggregates in manifest-read time.

    Returns a one-row DataFrame: ``n_rows``, ``n_tokens`` (size-mass), and
    per requested column ``min_<c>`` / ``max_<c>`` (the column's own type)
    and ``nulls_<c>``.  Columns default to every stats-bearing primitive
    column.  ``distributed`` defaults to driver-side below 20k sidecars and
    a mapInArrow pre-merge above (same heuristic as decode planning).

    ``snapshot_id``: stats as of that snapshot (time travel) — the summary
    fast path is skipped (catalog summaries describe the CURRENT set) and
    planning restricts to the snapshot's pid ranges.
    """
    if snapshot_id is not None:
        snapshot_id = mf.resolve_snapshot(out_dir, snapshot_id)  # tags ok
    keep_ranges = (
        mf.snapshot_ranges(out_dir, snapshot_id) if snapshot_id is not None else None
    )
    arrow_schema, _ = mf.read_schema(out_dir)
    by_name = {f.name: f for f in arrow_schema}
    # rename/drop evolution: requests speak logical names; stats live under
    # physical keys.  Translate in, alias the result columns back out.
    from rugo_spark import evolution as evo

    _view = evo.column_view(mf.read_schema_payload(out_dir))
    _p2l: dict = {}
    if _view:
        _l2p, _p2l = evo.maps(_view)
        columns = evo.translate_columns(columns, _l2p, "columns")
        if columns is None:
            live = set(evo.live_physical(_view))
            columns = [
                n for n in arrow_schema.names
                if n in live and _meta_aggregatable(by_name[n].type)
            ]
    if columns is None:
        cols = [n for n in arrow_schema.names if _meta_aggregatable(by_name[n].type)]
    else:
        bad = [c for c in columns if c not in by_name]
        if bad:
            raise KeyError(f"unknown columns {bad}; dataset has {arrow_schema.names}")
        unsup = [c for c in columns if not _meta_aggregatable(by_name[c].type)]
        if unsup:
            raise ValueError(
                f"metadata_agg: no orderable sidecar stats for {unsup} "
                "(decimal/nested/binary columns are excluded)"
            )
        cols = list(columns)

    from rugo_spark import deletes as dl

    def _visible_names() -> list[str]:
        if not os.path.isdir(os.path.join(out_dir, dl.DELETES_DIR)):
            return []
        return dl.visible_delete_files(out_dir, snapshot_id)

    def _collect_partials(distributed):
        # torn append bands are invisible to stats, like every reader — band
        # filtering happens below (summary fast path), inside
        # visible_partitions (local) or the scan specs (distributed)
        bands = mf.incomplete_append_bands(out_dir)
        loose_names = [
            n for n in mf.loose_sidecar_names(out_dir)
            if not any(lo <= mf.part_pid(n) < hi for lo, hi in bands)
        ]
        catalog = mf.segment_catalog(out_dir)
        # summary fast path: every cataloged segment carries a pre-merged
        # stats summary, and no loose pid can shadow a segment row (loose
        # outside all [min_pid, max_pid] ranges) — stats come from the
        # catalog alone plus the loose tail, with ZERO segment-file opens.
        # A 10⁶-block dataset answers in catalog-read time — the whole point
        # of consolidation.  Catalog summaries describe the CURRENT visible
        # set — unusable while a rollback mask condemns pids or a snapshot
        # read wants an older set
        summaries_ok = (
            bool(catalog)
            and all(e.get("summary") for e in catalog)
            and keep_ranges is None
            and mf.rollback_mask(out_dir) is None
        )
        if summaries_ok and loose_names:
            loose_pids = [mf.part_pid(n) for n in loose_names]
            summaries_ok = not any(
                int(e["min_pid"]) <= p <= int(e["max_pid"])
                for e in catalog
                for p in loose_pids
            )
        if summaries_ok and len(loose_names) <= 20_000 and distributed is not True:
            partials = [
                {
                    "n_rows": int(e["summary"]["n_rows"]),
                    "n_tokens": int(e["summary"]["n_tokens"]),
                    "codecs": json.dumps(e["summary"]["codecs"]),
                }
                for e in catalog
            ]
            mdir = os.path.join(out_dir, mf.MANIFEST_DIR)
            for name in loose_names:
                try:
                    with open(os.path.join(mdir, name)) as f:
                        partials.append(json.load(f))
                except (json.JSONDecodeError, OSError):
                    continue
            return partials
        n_planned = len(loose_names) + sum(int(e["n_rows"]) for e in catalog)
        if distributed is None:
            distributed = n_planned > 20_000
        if distributed:
            return _metadata_partials_distributed(
                spark, out_dir, cols, keep_ranges=keep_ranges
            )
        _rs = mf.RangeSet(keep_ranges) if keep_ranges is not None else None
        return [
            r
            for r in mf.visible_partitions(
                out_dir, cols=["n_rows", "n_tokens", "codecs"]
            )
            if _rs is None or int(r["partition_id"]) in _rs
        ]

    # consistent lifecycle view (same loop as decode_table): the partial
    # stats and the delete-file list must reflect one commit state, or a
    # MERGE flip mid-read double-counts (new band counted, riding masks
    # unsubtracted) or under-counts (masks subtracted, band missing)
    for _ in range(4):
        names = _visible_names()
        partials = _collect_partials(distributed)
        if _visible_names() == names:
            break

    n_rows = sum(int(r["n_rows"]) for r in partials)
    n_tokens = sum(int(r.get("n_tokens") or 0) for r in partials)
    # row-level deletes: subtract the exact deleted row/token mass (delete
    # files are position-disjoint per pid, so totals sum exactly).  min/max
    # and null counts stay PHYSICAL — a mask can't tighten them without a
    # scan, the same conservatism Iceberg metadata tables have under
    # position deletes; compaction restores exactness.
    if names:
        del_rows, del_tokens = dl.deleted_totals(out_dir, names)
        n_rows -= del_rows
        n_tokens -= del_tokens
    want = set(cols)
    parsed = [(json.loads(r["codecs"]), int(r["n_rows"])) for r in partials]
    merged = merge_column_metas(
        [{c: m for c, m in cd.items() if c in want} for cd, _ in parsed]
    )
    # schema evolution: a partition that predates a column has no meta for
    # it — every one of its rows reads as NULL for that column, so its
    # n_rows count as nulls (min/max untouched; nulls don't bound).
    # Partials that are already merges (segment summaries, distributed
    # slices) account for their INTERNAL missing rows themselves.
    for cd, n in parsed:
        for c in cols:
            if c not in cd:
                agg = merged.setdefault(c, {"min": None, "max": None, "null_count": 0})
                agg["null_count"] = int(agg.get("null_count") or 0) + n

    fields = [pa.field("n_rows", pa.int64()), pa.field("n_tokens", pa.int64())]
    arrays: list[pa.Array] = [pa.array([n_rows], pa.int64()), pa.array([n_tokens], pa.int64())]
    for c in cols:
        t = by_name[c].type
        m = merged.get(c, {})
        for k in ("min", "max"):
            v = m.get(k)
            try:
                arr = pa.array([v], type=t)
                ft = t
            except (pa.ArrowInvalid, pa.ArrowTypeError, pa.ArrowNotImplementedError):
                # temporal-as-string fallback keeps the value visible even if
                # this pyarrow can't parse the sidecar's rendering back
                arr, ft = pa.array([None if v is None else str(v)], pa.string()), pa.string()
            fields.append(pa.field(f"{k}_{_p2l.get(c, c)}", ft))
            arrays.append(arr)
        fields.append(pa.field(f"nulls_{_p2l.get(c, c)}", pa.int64()))
        arrays.append(pa.array([int(m.get("null_count") or 0)], pa.int64()))
    tbl = pa.Table.from_arrays(arrays, schema=pa.schema(fields))
    try:
        # PySpark 4 takes pa.Table directly — keeps declared types exactly
        # (None min/max stays NULL of the column type, not a pandas NaN double)
        return spark.createDataFrame(tbl)
    except TypeError:  # older API: pandas fallback
        return spark.createDataFrame(tbl.to_pandas())


def _member_stripes(row: dict) -> list[tuple[bytes, dict]]:
    """Explode one manifest member into (stripe_payload, dir_entry) pairs.
    Flat blocks ARE one stripe; striped blocks unwrap, keeping their own
    directory entries when present (else the member's block-level min/max)."""
    member_mm = _minmax_dir(json.loads(row["codecs"]))
    with open(row["block_path"], "rb") as f:
        buf = memoryview(f.read())
    magic = bytes(buf[:4])
    if magic == FILE_MAGIC:
        return [(bytes(buf), member_mm)]
    if magic not in (STRIPED_MAGIC, STRIPED_MAGIC2):
        raise ValueError(f"unknown block magic {magic!r} in {row['block_path']}")
    (n_stripes,) = struct.unpack_from("<I", buf, 4)
    off = 8
    sdir: list[dict] = []
    if magic == STRIPED_MAGIC2:
        (dlen,) = _U64.unpack_from(buf, off)
        off += 8
        sdir = json.loads(bytes(buf[off : off + dlen]))
        off += dlen
    out = []
    for i in range(n_stripes):
        (ln,) = _U64.unpack_from(buf, off)
        off += 8
        out.append((bytes(buf[off : off + ln]), sdir[i] if sdir else member_mm))
        off += ln
    return out


def compact_dataset(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    target_bytes: int = 128 << 20,
    sort_key: str | None = None,
    mode: str = "auto",
    consolidate: bool = False,
) -> DataFrame:
    """Small-block compaction (the OPTIMIZE / rewrite-data-files analog).

    Streaming epochs and fine-grained encodes accumulate small blocks; at
    10⁵–10⁶ blocks the manifest read and task scheduling, not the data,
    become the decode cost.  Adjacent blocks (by partition id) are greedily
    packed into ~``target_bytes`` groups, one task per group, ZERO shuffle.

    Two kernels (``mode``):

    - ``'concat'`` — members become STRIPES of one RGS2 container at
      disk-copy speed: no decode, no re-encode.  Member min/max become the
      stripe directory and blooms OR together, so every pruning surface
      survives unchanged.  This is the default: measured 312 s → I/O-bound
      seconds on a 2.7 GB / 256-block dataset.
    - ``'rewrite'`` — decode members, concatenate, optionally re-sort on
      ``sort_key``, re-encode with fresh codec selection (the kernel to use
      when row order or codec choices should improve, e.g. after appends).

    ``'auto'`` = ``'rewrite'`` when ``sort_key`` is given (a sort requires
    decoding), else ``'concat'``.  Row content is exactly preserved either
    way (pytest: decode equality + conserved n_rows/n_tokens).

    Row-level deletes are PHYSICALLY PURGED here: ``dst_dir`` carries no
    mask files.  A group containing a masked member falls back to the
    rewrite kernel even under ``'concat'`` (a stripe copy would resurrect
    its deleted rows); unmasked groups keep disk-copy speed.
    """
    if mode not in ("auto", "concat", "rewrite"):
        raise ValueError(f"mode must be auto|concat|rewrite, got {mode!r}")
    if mode == "auto":
        mode = "rewrite" if sort_key is not None else "concat"
    if mode == "concat" and sort_key is not None:
        raise ValueError("sort_key requires mode='rewrite' (concat keeps row order)")
    if os.path.realpath(src_dir) == os.path.realpath(dst_dir):
        raise ValueError("compact_dataset: dst_dir must differ from src_dir "
                         "(in-place compaction would overwrite members mid-read)")
    # destination hygiene: a previous (larger) compaction into the same dst
    # would leave stale higher-numbered sidecars (or cataloged segments)
    # that silently duplicate rows
    mf.clear_manifest(dst_dir)
    rows = sorted(mf.visible_partitions(src_dir), key=lambda r: int(r["partition_id"]))
    if not rows:
        raise ValueError(f"nothing to compact: {src_dir} has no completed partitions")
    # row-level delete masks: compaction is where deletes get PHYSICALLY
    # purged (dst carries no mask files).  A masked member cannot concat —
    # stripe copy would resurrect its deleted rows — so its whole group
    # falls back to the rewrite kernel; unmasked groups keep disk-copy speed.
    from rugo_spark import deletes as dl

    src_masks: dict[int, dict] = {}
    if os.path.isdir(os.path.join(src_dir, dl.DELETES_DIR)):
        for name in dl.visible_delete_files(src_dir):
            for e in dl.read_delete_file(src_dir, name).get("entries", []):
                m = src_masks.setdefault(
                    int(e["pid"]), {"entries": [], "tokens": 0, "rows": 0}
                )
                m["entries"].append((e["enc"], e.get("data", ""), int(e["n_rows"])))
                m["tokens"] += int(e.get("deleted_tokens") or 0)
                m["rows"] += int(e["n_deleted"])
    arrow_schema, spark_schema = mf.read_schema(src_dir)
    groups: list[list[dict]] = [[]]
    acc = 0
    for r in rows:
        b = int(r["output_bytes"] or 0)
        if groups[-1] and acc + b > target_bytes:
            groups.append([])
            acc = 0
        groups[-1].append(r)
        acc += b
    schema_bytes = arrow_schema.serialize().to_pybytes()
    bloom_col = sort_key or next(
        (r.get("bloom_col") for r in rows if r.get("bloom_col")), None
    )
    # members travel as pids, not sidecar paths: after consolidation the
    # loose sidecar may be gone, so executors resolve each pid through
    # mf.load_rows (loose first, else pid-filtered segment read)
    specs = [
        {
            "gid": gid,
            "pids": [int(g["partition_id"]) for g in grp],
            # masks ride the spec (zstd'd base64 — JSON-safe, kilobytes)
            "masks": {
                str(p): src_masks[p]
                for g in grp
                if (p := int(g["partition_id"])) in src_masks
            },
        }
        for gid, grp in enumerate(groups)
    ]
    # durable payload state rides along (the logical column view, size
    # column, constraints) — NOT input_fingerprint, which belongs to the
    # source's resume protocol, not the compacted copy
    src_payload = mf.read_schema_payload(src_dir) or {}
    mf.write_schema(
        dst_dir, arrow_schema, json.dumps(spark_schema),
        extra=mf.carry_payload(src_payload, size_col=src_payload.get("size_col")),
    )

    import pandas as pd

    src = spark.createDataFrame(
        pd.DataFrame({"spec": [json.dumps(s) for s in specs]})
    ).repartition(len(specs))

    def compactor(batches):
        from rugo_spark import bloom as _bloom

        schema = pa.ipc.read_schema(pa.py_buffer(schema_bytes))
        for batch in batches:
            for spec_json in batch.column(0).to_pylist():
                spec = json.loads(spec_json)
                gid = int(spec["gid"])
                masks = {int(k): v for k, v in (spec.get("masks") or {}).items()}
                by_pid = mf.load_rows(src_dir, spec["pids"])
                members = [by_pid[p] for p in spec["pids"]]
                path = mf.block_path(dst_dir, gid)
                row = {
                    "partition_id": gid,
                    "n_rows": sum(int(m["n_rows"]) for m in members)
                    - sum(int(m["rows"]) for m in masks.values()),
                    "n_tokens": sum(int(m.get("n_tokens") or 0) for m in members)
                    - sum(int(m["tokens"]) for m in masks.values()),
                    "block_path": path,
                }
                if row["n_rows"] == 0 and masks:
                    continue  # every row of the group deleted — no block
                if mode == "concat" and not masks:
                    stripes = [s for m in members for s in _member_stripes(m)]
                    crc = _write_rgs2(
                        path, [b for b, _ in stripes], [d for _, d in stripes]
                    )
                    row["input_bytes"] = sum(int(m.get("input_bytes") or 0) for m in members)
                    row["codecs"] = json.dumps(
                        merge_column_metas([json.loads(m["codecs"]) for m in members]),
                        default=str,
                    )
                    member_blooms = [
                        m["bloom"]
                        for m in members
                        if m.get("bloom") and m.get("bloom_col") == bloom_col
                    ]
                    if bloom_col is not None and len(member_blooms) == len(members):
                        row["bloom_col"] = bloom_col
                        row["bloom"] = _bloom.union(member_blooms)
                else:
                    from rugo_spark import deletes as _dl

                    parts = []
                    for m in members:
                        mb = read_block_file(m["block_path"], schema)
                        raw = masks.get(int(m["partition_id"]))
                        if raw:  # block-absolute positions; no stripe skip
                            mb = _dl.apply_mask(
                                mb, _dl.union_positions(raw["entries"])
                            )
                        parts.extend(mb)
                    tbl = pa.Table.from_batches(parts, schema=schema)
                    if sort_key is not None:
                        tbl = tbl.sort_by(sort_key)
                    crc, metas = write_block_file(path, tbl)
                    row["input_bytes"] = int(tbl.nbytes)
                    row["codecs"] = json.dumps(metas, default=str)
                    if bloom_col is not None and bloom_col in tbl.column_names:
                        row["bloom_col"] = bloom_col
                        row["bloom"] = _bloom.build(tbl.column(bloom_col))
                row["output_bytes"] = int(os.path.getsize(path))
                row["checksum"] = int(crc)
                mf.write_sidecar(dst_dir, row)
                yield mf.manifest_batch([row])

    src.mapInArrow(compactor, mf.MANIFEST_DDL).write.mode("overwrite").format("noop").save()
    if consolidate:
        mf.consolidate_manifest(dst_dir)
    mf.commit_snapshot(dst_dir, "compact", extra={"src": os.path.abspath(src_dir)})
    return manifest_df(spark, dst_dir)


def encode_epoch(
    df: DataFrame,
    dataset_dir: str,
    epoch: int,
    **kwargs,
) -> DataFrame:
    """Append semantics for a growing dataset: each ingest epoch encodes into
    its own namespace (``<dataset>/epoch=N/``) with independent resume, like
    the streaming sink's ``batch=N`` layout.  ``decode_dataset`` unions all
    epochs."""
    return encode_table(df, os.path.join(dataset_dir, f"epoch={epoch}"), **kwargs)


def decode_dataset(spark: SparkSession, dataset_dir: str, **kwargs) -> DataFrame:
    """Union-decode every epoch under ``dataset_dir`` (or a single plain
    encode dir)."""
    from functools import reduce

    epochs = sorted(
        os.path.join(dataset_dir, d)
        for d in os.listdir(dataset_dir)
        if d.startswith("epoch=") and os.path.isdir(os.path.join(dataset_dir, d))
    )
    if not epochs:
        return decode_table(spark, dataset_dir, **kwargs)
    return reduce(
        lambda a, b: a.unionAll(b), (decode_table(spark, e, **kwargs) for e in epochs)
    )


# ------------------------------------------------------------- decode job

def _parse_temporal_stat(s: str):
    """A sidecar temporal stat string back to a datetime, else None.
    Handles space/'T' separators, offsets, and over-long fractions."""
    import datetime as _dt
    import re as _re

    try:
        return _dt.datetime.fromisoformat(s)
    except (ValueError, TypeError):
        pass
    try:  # trim >6 fractional digits (numpy datetime64 renders nanoseconds)
        trimmed = _re.sub(r"(\.\d{6})\d+", r"\1", s)
        return _dt.datetime.fromisoformat(trimmed)
    except (ValueError, TypeError):
        return None


def _session_tz_name() -> str | None:
    try:
        from pyspark.sql import SparkSession

        s = SparkSession.getActiveSession()
        if s is None:
            return None
        return s.conf.get("spark.sql.session.timeZone")
    except Exception:  # noqa: BLE001 — planning must never crash on conf reads
        return None


def _normalize_temporal_filters(schema, filters: list | None) -> list | None:
    """Driver-side: render naive datetime probes for ltz timestamp columns
    as UTC-aware instants (the session-timezone interpretation Spark itself
    applies to naive literals).  Stats for ltz columns serialize tz-aware,
    so normalized probes compare exactly — including on EXECUTORS, where
    the distributed planner and stripe-skip tests cannot reach the session
    conf.  ntz/date probes stay naive (their stats are naive wall times)."""
    if not filters:
        return filters
    import datetime as _dt

    from pyspark.sql.types import TimestampType

    types = {f.name: f.dataType for f in schema.fields}
    tz = None

    def _norm_one(v):
        nonlocal tz
        if not isinstance(v, _dt.datetime):
            return v
        if v.tzinfo is not None:
            return v.astimezone(_dt.timezone.utc)
        if tz is None:
            tzname = _session_tz_name()
            if tzname is not None:
                try:
                    from zoneinfo import ZoneInfo

                    tz = ZoneInfo(tzname)
                except (KeyError, ValueError, OSError):
                    tz = False
            else:
                tz = False
        if tz:
            return v.replace(tzinfo=tz).astimezone(_dt.timezone.utc)
        return v

    out = []
    for c, op, v in filters:
        if isinstance(types.get(c), TimestampType):
            v = [_norm_one(x) for x in v] if op == "in" else _norm_one(v)
        out.append((c, op, v))
    return out


def _block_may_match(codecs: dict, col: str, op: str, value) -> bool:
    """Conservative block-skip test from manifest min/max stats (the rugo
    min/max external-pruning pattern, metadata.cpp:430-463).  True = must
    scan (unknown stats or possible overlap)."""
    if op == "in":
        vals = list(value)
        if not vals:
            return False  # IN () matches nothing — skip every block
        return any(_block_may_match(codecs, col, "=", v) for v in vals)
    if op == "isnull":
        m = codecs.get(col) or {}
        nc = m.get("null_count")
        return nc is None or int(nc) > 0  # zero recorded nulls → skip
    if op == "notnull":
        return True  # null_count == n_rows is not visible here — scan
    meta = codecs.get(col)
    if not meta or meta.get("min") is None or meta.get("max") is None:
        return True
    lo, hi = meta["min"], meta["max"]
    if isinstance(lo, str) and not isinstance(value, str):
        # temporal min/max ALSO serialize as strings (same default=str) —
        # tz-AWARE for ltz timestamp columns (Arrow stores them as UTC
        # instants: '… 03:00:00+00:00'), naive for ntz/date.  Parse them
        # back to datetimes and compare as instants; a naive probe against
        # aware stats is interpreted in the session timezone (exactly what
        # Spark itself does with a naive literal) and conservatively scans
        # when no session is reachable (executor-side planners receive
        # probes already normalized by _normalize_temporal_filters).
        # Without this branch every timestamp/date predicate degraded to a
        # full scan (the Decimal fallback raises InvalidOperation on dates).
        import datetime as _dt

        if isinstance(value, (_dt.datetime, _dt.date)):
            plo, phi = _parse_temporal_stat(lo), _parse_temporal_stat(hi)
            if plo is None or phi is None:
                return True
            if not isinstance(value, _dt.datetime):
                value = _dt.datetime(value.year, value.month, value.day)
            if (plo.tzinfo is None) != (value.tzinfo is None):
                if value.tzinfo is not None:
                    return True  # aware probe vs ntz stats: wall clock unknown
                tzname = _session_tz_name()
                if tzname is None:
                    return True
                try:
                    from zoneinfo import ZoneInfo

                    value = value.replace(tzinfo=ZoneInfo(tzname))
                except (KeyError, ValueError, OSError):
                    return True
            lo, hi = plo, phi
        else:
            # decimal128 min/max serialize as strings in the JSON sidecar
            # (json.dumps(default=str)); compare numerically via Decimal so
            # decimal stats actually prune instead of TypeError-ing to a scan
            try:
                from decimal import Decimal

                lo, hi, value = Decimal(lo), Decimal(hi), Decimal(str(value))
            except ArithmeticError:
                return True
    try:
        if op == "=":
            return lo <= value <= hi
        if op in ("<", "<="):
            return lo < value if op == "<" else lo <= value
        if op in (">", ">="):
            return hi > value if op == ">" else hi >= value
    except TypeError:
        return True
    return True


def _sidecar_keep(row: dict, filters: list[tuple] | None) -> bool:
    """Block-skip test on one manifest row: min/max stats + bloom membership."""
    if not filters:
        return True
    codecs = json.loads(row["codecs"])
    for c, op, v in filters:
        if not _block_may_match(codecs, c, op, v):
            return False
        if op in ("=", "in") and row.get("bloom") and row.get("bloom_col") == c:
            from rugo_spark import bloom as _bloom

            vals = list(v) if op == "in" else [v]
            if not any(_bloom.might_contain(row["bloom"], x) for x in vals):
                return False
    return True


_PLAN_DDL = "block_path string, checksum long"

# above this many sidecars, decode planning (JSON parse + block-skip tests)
# runs on executors instead of a driver loop (measured: driver parse ≈
# 0.25 ms/sidecar — ~5 s at 20k; the distributed plan costs one extra
# stage ≈ 1-2 s, so it pays above ~20k and is mandatory at 10⁵-10⁶)
_DISTRIBUTED_PLAN_THRESHOLD = 20000


_SEGMENT_RGS_PER_SPEC = 8  # ~16k manifest rows per planning task


_SIDECARS_PER_SPEC = 256


def _manifest_scan_specs(
    out_dir: str,
    cols: list[str] | None = None,
    keep_ranges: list | None = None,
) -> tuple[list[dict], int]:
    """Driver-side planning inputs for a distributed manifest scan: one spec
    per loose sidecar (band-filtered by filename pid — the driver never
    parses them) plus one spec per row-group slice of every cataloged
    segment.  ``cols`` prunes the segment read to the named sidecar fields
    (e.g. filterless decode planning touches only block_path + checksum —
    never the bloom bytes).  Returns ``(specs, n_loose)``; executors expand
    each spec via ``mf.iter_spec_rows`` with exactly-once pid semantics
    (loose overrides segment, incomplete append bands invisible)."""
    mdir = os.path.join(out_dir, mf.MANIFEST_DIR)
    sdir = os.path.join(out_dir, mf.SEGMENTS_DIR)
    bands = mf.incomplete_append_bands(out_dir)
    catalog = mf.segment_catalog(out_dir)
    # effective keep set = time-travel snapshot ranges ∩ rollback mask
    # (condemned pids invisible even to a snapshot read — their blocks are
    # being deleted)
    mask = mf.rollback_mask(out_dir)
    if mask is not None:
        keep_ranges = mask if keep_ranges is None else mf.intersect_ranges(keep_ranges, mask)
    keep = mf.RangeSet(keep_ranges) if keep_ranges is not None else None
    specs: list[dict] = []
    loose_pids: list[int] = []
    loose_names: list[str] = []
    for name in mf.loose_sidecar_names(out_dir):
        pid = mf.part_pid(name)
        if any(lo <= pid < hi for lo, hi in bands):
            continue
        if keep is not None and pid not in keep:
            continue
        loose_pids.append(pid)
        loose_names.append(name)
    # CHUNKED loose specs (r6): one spec per ~256 sidecars instead of one
    # per file.  Per-file specs made the driver build + json.dumps 100k
    # dicts and ship a 100k-row DataFrame through a round-robin exchange —
    # 1.3 s driver + ~1 s exchange at 100k sidecars, pure overhead.  The
    # executor expands a chunk by opening its names; the crash-window
    # fallback (loose file torn/deleted mid-plan while its pid also lives
    # in a segment) resolves executor-side from the chunk's catalog ranges.
    cat_ranges = [
        [os.path.join(sdir, e["file"]), int(e["min_pid"]), int(e["max_pid"])]
        for e in catalog
    ]
    for i in range(0, len(loose_names), _SIDECARS_PER_SPEC):
        spec = {
            "kind": "sidecars",
            "dir": mdir,
            "names": loose_names[i : i + _SIDECARS_PER_SPEC],
        }
        if cat_ranges:
            spec["catalog"] = cat_ranges
        specs.append(spec)
    n_loose = len(loose_names)
    for entry in catalog:
        # whole-segment prune: a segment disjoint from the keep set never
        # schedules a spec (a 10⁶-block dataset time-travelling to an early
        # snapshot plans only the covering segments)
        if keep_ranges is not None and not mf.intersect_ranges(
            [[int(entry["min_pid"]), int(entry["max_pid"]) + 1]], keep_ranges
        ):
            continue
        n_rg = max(1, -(-int(entry["n_rows"]) // mf._SEGMENT_ROW_GROUP))
        for start in range(0, n_rg, _SEGMENT_RGS_PER_SPEC):
            spec = {
                "kind": "segment",
                "path": os.path.join(sdir, entry["file"]),
                "rg_start": start,
                "rg_end": min(start + _SEGMENT_RGS_PER_SPEC, n_rg),
                "skip": loose_pids,
                "bands": [list(b) for b in bands],
                "cols": cols,
            }
            if keep_ranges is not None:
                spec["keep"] = keep_ranges
            specs.append(spec)
    return specs, n_loose


def _spec_src_df(spark: SparkSession, specs: list[dict], n_loose: int):
    import pandas as pd

    pdf = pd.DataFrame({"spec": [json.dumps(s) for s in specs]})
    # every spec is a real unit of work now (a ~256-sidecar chunk or a
    # segment row-group slice) — one task per spec up to 4 waves/core
    n_tasks = max(1, min(len(specs), spark.sparkContext.defaultParallelism * 4))
    return spark.createDataFrame(pdf).repartition(n_tasks)


def _plan_df_distributed(spark: SparkSession, out_dir: str, filters, keep_ranges=None):
    """Manifest planning as a DataFrame job: the driver only lists sidecar
    FILENAMES and reads the segment catalog; JSON parsing, min/max pruning
    and bloom probes run in a mapInArrow stage.  At 10⁵–10⁶ blocks a
    driver-side Python loop over sidecars is the planning bottleneck
    (VERDICT round 1) — this keeps the driver O(#loose files) in strings.
    Consolidated datasets plan from parquet segment slices instead of
    per-partition JSON opens (VERDICT r4 item 2)."""
    import pyarrow as _pa

    # column-pruned segment read: without filters planning needs only
    # block_path + checksum; with filters add stats + bloom for skip tests
    cols = ["block_path", "checksum"]
    if filters:
        cols += ["codecs", "bloom_col", "bloom"]
    specs, n_loose = _manifest_scan_specs(out_dir, cols=cols, keep_ranges=keep_ranges)
    src = _spec_src_df(spark, specs, n_loose)

    def planner(batches):
        for batch in batches:
            out_paths, out_crcs = [], []
            for spec_json in batch.column(0).to_pylist():
                for row in mf.iter_spec_rows(json.loads(spec_json)):
                    if _sidecar_keep(row, filters):
                        out_paths.append(row["block_path"])
                        out_crcs.append(int(row["checksum"]))
            if out_paths:
                yield _pa.RecordBatch.from_arrays(
                    [_pa.array(out_paths, type=_pa.string()), _pa.array(out_crcs, type=_pa.int64())],
                    names=["block_path", "checksum"],
                )

    return src.mapInArrow(planner, _PLAN_DDL)


def decode_table(
    spark: SparkSession,
    out_dir: str,
    columns: list[str] | None = None,
    num_tasks: int | None = None,
    filters: list[tuple] | None = None,
    verify_checksums: bool = False,
    plan: str = "auto",
    on_corrupt: str = "error",
    snapshot_id: int | None = None,
    _restrict_ranges: list | None = None,
) -> DataFrame:
    """Reconstruct the original DataFrame from blocks. One task per block file,
    no shuffle; column pruning skips undecoded columns entirely; ``filters``
    (ANDed ``(col, op, value)`` triples) skip whole blocks via manifest
    min/max stats *and* are re-applied exactly on the decoded rows.

    ``plan``: 'local' parses sidecars in a driver loop (lowest latency for
    small manifests), 'distributed' plans in a Spark stage (scales to 10⁶
    blocks), 'auto' switches on manifest size.

    ``on_corrupt`` (with ``verify_checksums``): 'error' fails the job on a
    checksum mismatch; 'skip' quarantines the block (logs to stderr, decodes
    the rest) — the at-scale triage mode: one rotted block of 10⁶ shouldn't
    kill a day-long read, and the manifest pins exactly which partition to
    re-encode.

    ``snapshot_id``: time travel — decode the dataset exactly as it was at
    that snapshot (``manifest.snapshot_log``; the Iceberg as-of-snapshot
    analog).  Within a dataset dir partitions are append-only, so a
    snapshot is a pid-range set and planning simply restricts to it — both
    plan paths, including whole-segment pruning of disjoint segments."""
    if snapshot_id is not None:
        snapshot_id = mf.resolve_snapshot(out_dir, snapshot_id)  # tags ok
    keep_ranges = (
        mf.snapshot_ranges(out_dir, snapshot_id) if snapshot_id is not None else None
    )
    if _restrict_ranges is not None:
        # internal (read_changes): intersect an extra pid-range restriction
        # into the plan — e.g. "only the pids added between two snapshots"
        keep_ranges = (
            _restrict_ranges
            if keep_ranges is None
            else mf.intersect_ranges(keep_ranges, _restrict_ranges)
        )
    from rugo_spark import deletes as dl

    arrow_schema, spark_schema_json = mf.read_schema(out_dir)
    from pyspark.sql.types import StructType

    full = StructType.fromJson(spark_schema_json)
    # column rename/drop evolution: callers speak LOGICAL names; the whole
    # plan below (stats pruning, blooms, stripe dirs, block decode) runs in
    # the PHYSICAL namespace and the output aliases back at the end
    from rugo_spark import evolution as evo

    _view = evo.column_view(mf.read_schema_payload(out_dir))
    _p2l: dict | None = None
    if _view:
        _l2p, _p2l = evo.maps(_view)
        columns = evo.translate_columns(columns, _l2p, "columns")
        filters = evo.translate_filters(filters, _l2p)
        if columns is None and any(e.get("dropped") for e in _view):
            columns = evo.live_physical(_view)  # hide dropped columns

    def _to_logical(df: DataFrame) -> DataFrame:
        if not _p2l or all(_p2l.get(c, c) == c for c in df.columns):
            return df
        import pyspark.sql.functions as F

        return df.select([F.col(c).alias(_p2l.get(c, c)) for c in df.columns])

    filters = _normalize_temporal_filters(full, filters)
    # filters referencing non-projected columns: decode them too, filter
    # exactly, then drop them (otherwise the exact re-apply would hit an
    # unresolved column)
    extra_filter_cols: list[str] = []
    if columns and filters:
        extra_filter_cols = [
            c for c, _, _ in filters if c not in set(columns) and c in full.names
        ]
    if columns:
        want = set(columns) | set(extra_filter_cols)
        out_schema = StructType([f for f in full.fields if f.name in want])
    else:
        out_schema = full
    import pandas as pd

    def _visible_names() -> list[str]:
        if not os.path.isdir(os.path.join(out_dir, dl.DELETES_DIR)):
            return []
        return dl.visible_delete_files(out_dir, snapshot_id)

    def _build_plan(requested_tasks):
        """Driver-side capture of the partition view (both plan paths list
        pids inside this call).  Returns (man_df_or_None, empty_schema_df?)."""
        nonlocal plan
        sidecar_names = mf.loose_sidecar_names(out_dir)
        catalog = mf.segment_catalog(out_dir)
        n_seg_rows = sum(int(e["n_rows"]) for e in catalog)
        if not sidecar_names and not n_seg_rows:
            return None
        if plan == "auto":
            # a consolidated row costs ~50× less to plan than a loose JSON
            # open (column-pruned parquet read vs per-file syscall + full
            # parse), so the local/distributed switch weighs them accordingly
            eff = len(sidecar_names) + n_seg_rows // 50
            plan = "distributed" if eff > _DISTRIBUTED_PLAN_THRESHOLD else "local"
        par = spark.sparkContext.defaultParallelism
        if plan == "distributed":
            man = _plan_df_distributed(spark, out_dir, filters, keep_ranges=keep_ranges)
            if requested_tasks:  # else decode runs on the planner's partitioning
                man = man.repartition(max(1, min(int(requested_tasks), 4096)))
            return man
        plan_cols = ["block_path", "checksum", "output_bytes"]
        if filters:
            plan_cols += ["codecs", "bloom_col", "bloom"]
        rs = mf.RangeSet(keep_ranges) if keep_ranges is not None else None
        completed = [
            r
            for r in mf.visible_partitions(out_dir, cols=plan_cols)
            if (rs is None or int(r["partition_id"]) in rs) and _sidecar_keep(r, filters)
        ]
        if not completed:
            return None
        pdf = pd.DataFrame(
            {
                "block_path": [r["block_path"] for r in completed],
                "checksum": [int(r["checksum"]) for r in completed],
            }
        )
        if requested_tasks is None:
            # one task per block is right for few big blocks, pathological
            # for many small ones (task overhead ~10-20 ms): target ≥4 waves
            # per core OR ~32 MB per task, whichever gives more tasks
            total_bytes = sum(int(r.get("output_bytes") or 0) for r in completed)
            requested_tasks = min(
                len(completed), max(par * 4, total_bytes // (32 << 20))
            )
        return spark.createDataFrame(pdf).repartition(
            max(1, min(int(requested_tasks), 4096))
        )

    # consistent lifecycle view: the delete-mask list and the partition
    # listing must come from the same commit state — a MERGE flip between
    # the two would surface its new band WITHOUT its riding masks (both row
    # versions) or the masks WITHOUT the band (neither).  Both plan paths
    # capture the pid universe driver-side inside _build_plan, so re-reading
    # the visible file list after planning detects any commit that landed
    # mid-read; retry until stable (bounded — lifecycle commits are rare).
    # Snapshot reads are frozen entries: stable by construction.
    for _ in range(4):
        names = _visible_names()
        man = _build_plan(num_tasks)
        if _visible_names() == names:
            break
    if man is None:
        return _to_logical(spark.createDataFrame([], out_schema))
    masks_raw: dict = dl.load_raw(out_dir, names) if names else {}

    decode_cols = (list(columns) + extra_filter_cols) if columns else None
    masks_bc = (
        spark.sparkContext.broadcast(masks_raw) if masks_raw else None
    )

    def decoder(batches):
        from rugo_spark import deletes as _dl

        masks = masks_bc.value if masks_bc is not None else {}
        for batch in batches:
            crcs = batch.column(1).to_pylist()
            for i, path in enumerate(batch.column(0).to_pylist()):  # per-partition only
                raw_mask = masks.get(mf.part_pid(path)) if masks else None
                # a masked block decodes ALL stripes (positions are
                # block-absolute; stripe skipping would shift offsets) —
                # the driver-side exact filter still applies afterwards
                stripe_filters = None if raw_mask is not None else filters
                if verify_checksums:
                    # decode straight from the verified bytes — no 2nd read
                    with open(path, "rb") as f:
                        payload = f.read()
                    got = zlib.crc32(payload)
                    want = crcs[i]
                    if want is not None and got != want:
                        msg = (
                            f"checksum mismatch for {path}: block corrupted "
                            f"(manifest {want}, file {got})"
                        )
                        if on_corrupt == "skip":
                            import sys as _sys

                            print(f"rugo_spark: QUARANTINED {msg}", file=_sys.stderr)
                            continue
                        raise IOError(msg)
                    out_batches = decode_block_payload(
                        memoryview(payload), arrow_schema, decode_cols, stripe_filters
                    )
                else:
                    out_batches = read_block_file(
                        path, arrow_schema, decode_cols, stripe_filters
                    )
                if raw_mask is not None:
                    out_batches = _dl.apply_mask(
                        out_batches, _dl.union_positions(raw_mask)
                    )
                yield from out_batches

    out = man.mapInArrow(decoder, out_schema)
    if filters:
        import pyspark.sql.functions as F

        for c, op, v in filters:
            col = F.col(c)
            if op == "isnull":
                out = out.filter(col.isNull())
            elif op == "notnull":
                out = out.filter(col.isNotNull())
            else:
                out = out.filter(
                    col.isin(*list(v)) if op == "in" else
                    {"=": col == v, "<": col < v, "<=": col <= v, ">": col > v,
                     ">=": col >= v}[op]
                )
    if extra_filter_cols:
        out = out.select(*columns)
    return _to_logical(out)


def _subtract_ranges(a: list, b: list) -> list[list[int]]:
    """Half-open pid ranges in ``a`` not covered by ``b`` (boundary sweep)."""
    out: list[list[int]] = []
    b_sorted = sorted((int(lo), int(hi)) for lo, hi in b)
    for lo, hi in sorted((int(lo), int(hi)) for lo, hi in a):
        cur = lo
        for blo, bhi in b_sorted:
            if bhi <= cur or blo >= hi:
                continue
            if blo > cur:
                out.append([cur, blo])
            cur = max(cur, bhi)
            if cur >= hi:
                break
        if cur < hi:
            out.append([cur, hi])
    return out


def cdc_window(
    out_dir: str, from_snapshot: int, to_snapshot: int
) -> dict:
    """Validated CDC window between two snapshot ids — the shared planner
    behind :func:`read_changes` (batch) and the ``rugo_cdc`` streaming
    source.  Returns ``{"from_entry", "to_entry", "from_ranges",
    "to_ranges", "new_ranges", "delete_diffs"}`` where ``delete_diffs``
    maps pre-existing pids to the np.uint32 positions newly masked inside
    the window.  Raises when the window crosses a rollback (pid ranges or
    mask positions shrank — the log was rewritten, the diff is
    undefined)."""
    import numpy as np

    from rugo_spark import deletes as dl

    log = mf.snapshot_log(out_dir, strict=True)
    if not log:
        raise ValueError(f"{out_dir} has no snapshot log")
    by_id = {int(e["id"]): e for e in log}
    for s in (from_snapshot, to_snapshot):
        if int(s) not in by_id:
            raise ValueError(
                f"unknown snapshot_id {s} for {out_dir}; available: {sorted(by_id)}"
            )
    if int(from_snapshot) > int(to_snapshot):
        raise ValueError(
            f"from_snapshot {from_snapshot} is newer than to_snapshot {to_snapshot}"
        )
    e_from, e_to = by_id[int(from_snapshot)], by_id[int(to_snapshot)]
    fr, tr = e_from.get("ranges") or [], e_to.get("ranges") or []
    if _subtract_ranges(fr, tr):
        raise ValueError(
            f"snapshot {from_snapshot}→{to_snapshot} of {out_dir} loses pid "
            "ranges — the window crosses a rollback; CDC across a rewritten "
            "log is undefined"
        )
    raw_from = dl.load_raw(out_dir, sorted(e_from.get("delete_files") or []))
    raw_to = dl.load_raw(out_dir, sorted(e_to.get("delete_files") or []))
    fr_set = mf.RangeSet(fr)
    diffs: dict[int, "np.ndarray"] = {}
    for pid in sorted(set(raw_to) | set(raw_from)):
        to_pos = (
            dl.union_positions(raw_to[pid])
            if pid in raw_to
            else np.empty(0, dtype=np.uint32)
        )
        from_pos = (
            dl.union_positions(raw_from[pid])
            if pid in raw_from
            else np.empty(0, dtype=np.uint32)
        )
        if len(np.setdiff1d(from_pos, to_pos)):
            raise ValueError(
                f"snapshot {from_snapshot}→{to_snapshot} of {out_dir} "
                f"un-deletes positions on pid {pid} — the window crosses a "
                "rollback; CDC across a rewritten log is undefined"
            )
        if pid not in fr_set:
            continue  # masks on in-window pids: never visible at either end
        d = np.setdiff1d(to_pos, from_pos).astype(np.uint32)
        if len(d):
            diffs[pid] = d
    return {
        "from_entry": e_from, "to_entry": e_to,
        "from_ranges": fr, "to_ranges": tr,
        "new_ranges": _subtract_ranges(tr, fr),
        "delete_diffs": diffs,
    }


def read_changes(
    spark: SparkSession,
    out_dir: str,
    from_snapshot: int,
    to_snapshot: int | None = None,
) -> DataFrame:
    """Incremental / CDC read (the Iceberg incremental-scan / Delta Change
    Data Feed analog): the NET row changes between two snapshots, as the
    dataset's columns plus ``_change_type`` ('insert' | 'delete').

    Everything derives from two snapshot entries — each carries its
    cumulative pid ranges and delete-file list — so the diff costs two log
    reads plus decodes proportional to the CHANGE, not the table:

    - inserts: blocks in pid ranges added between the snapshots, decoded
      under the TO state's masks (a row appended then deleted inside the
      window was never visible at either endpoint — not a change);
    - deletes: per-pid mask-position diffs on pre-existing blocks,
      materialized by decoding ONLY the touched blocks and taking exactly
      the newly-masked positions.

    Raises if the window crosses a rollback (pid ranges or mask positions
    shrank — the log was rewritten, the diff is undefined)."""
    import base64 as _b64

    from pyspark.sql.types import StringType, StructField, StructType

    from rugo_spark import deletes as dl

    log = mf.snapshot_log(out_dir, strict=True)
    if not log:
        raise ValueError(f"{out_dir} has no snapshot log")
    from_snapshot = mf.resolve_snapshot(out_dir, from_snapshot)  # tags ok
    if to_snapshot is not None:
        to_snapshot = mf.resolve_snapshot(out_dir, to_snapshot)
    if to_snapshot is None:
        to_snapshot = int(log[-1]["id"])
    win = cdc_window(out_dir, int(from_snapshot), int(to_snapshot))
    arrow_schema, spark_schema_json = mf.read_schema(out_dir)
    from pyspark.sql.types import StructType as _ST

    full = _ST.fromJson(spark_schema_json)
    # rename/drop evolution: CDC rows surface under the CURRENT logical
    # view (Delta CDF reads under the latest schema too); the delete-side
    # kernel decodes physically and renames per batch
    from rugo_spark import evolution as evo

    _view = evo.column_view(mf.read_schema_payload(out_dir))
    _p2l: dict = {}
    _live_phys: list[str] | None = None
    if _view:
        _, _p2l = evo.maps(_view)
        _live_phys = evo.live_physical(_view)
        by_name = {f.name: f for f in full.fields}
        full = _ST([
            StructField(_p2l[p], by_name[p].dataType, by_name[p].nullable)
            for p in _live_phys
        ])
    out_schema = StructType(
        list(full.fields) + [StructField("_change_type", StringType(), False)]
    )
    import pyspark.sql.functions as F

    parts: list[DataFrame] = []
    if int(from_snapshot) == int(to_snapshot):
        return spark.createDataFrame([], out_schema)

    new_ranges = win["new_ranges"]
    if new_ranges:
        parts.append(
            decode_table(
                spark, out_dir, snapshot_id=int(to_snapshot),
                _restrict_ranges=new_ranges,
            ).withColumn("_change_type", F.lit("insert"))
        )

    # newly-masked positions on PRE-EXISTING blocks
    diff = win["delete_diffs"]
    if diff:
        rows_by_pid = mf.load_rows(out_dir, sorted(diff))
        schema_bytes = arrow_schema.serialize().to_pybytes()
        import pandas as pd

        # positions ride COMPRESSED (pos32/bitmap/all, zstd'd) — a mass
        # retention delete of 1M-row blocks would otherwise put ~4 MB of
        # raw uint32 per block on the driver and in every task payload
        enc_specs = [
            (rows_by_pid[p]["block_path"],
             *dl.encode_positions(diff[p], int(rows_by_pid[p]["n_rows"])),
             int(rows_by_pid[p]["n_rows"]))
            for p in sorted(diff)
        ]
        spec_pdf = pd.DataFrame(
            {
                "block_path": [s[0] for s in enc_specs],
                "enc": [s[1] for s in enc_specs],
                "data": [s[2] for s in enc_specs],
                "n_rows": [s[3] for s in enc_specs],
            }
        )
        src = spark.createDataFrame(spec_pdf).repartition(
            min(len(spec_pdf), spark.sparkContext.defaultParallelism * 4)
        )

        def deleted_rows(batches):
            from rugo_spark import deletes as _dl

            schema = pa.ipc.read_schema(pa.py_buffer(schema_bytes))
            for batch in batches:
                for path, enc, data, n_rows in zip(
                    batch.column(0).to_pylist(), batch.column(1).to_pylist(),
                    batch.column(2).to_pylist(), batch.column(3).to_pylist(),
                ):
                    pos = _dl.decode_positions(enc, data, int(n_rows))
                    tbl = pa.Table.from_batches(
                        list(read_block_file(path, schema, _live_phys, None))
                    )
                    taken = tbl.take(pa.array(pos.astype("int64")))
                    if _p2l:
                        taken = taken.rename_columns(
                            [_p2l.get(c, c) for c in taken.schema.names]
                        )
                    taken = taken.append_column(
                        "_change_type",
                        pa.array(["delete"] * taken.num_rows, type=pa.string()),
                    )
                    yield from taken.to_batches()

        parts.append(src.mapInArrow(deleted_rows, out_schema))

    if not parts:
        return spark.createDataFrame([], out_schema)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
