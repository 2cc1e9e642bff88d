"""Incremental recluster: merge append bands back into a sorted layout
WITHOUT rewriting the sorted bulk (the Iceberg incremental
``rewriteDataFiles`` / Delta incremental-OPTIMIZE analog).

``append_table`` lands new rows as band blocks whose key ranges overlap
the sorted base, so range pruning on the sort key degrades as appends
accumulate.  The existing remedies rewrite EVERYTHING
(``compact_dataset(sort_key=…)`` decodes every block;
``encode_table_sorted(decode_table(src), …)`` adds a full shuffle) — at
100 TB that is a full-table job to absorb a 0.1% append.  This pass costs
``O(appended rows + overlapped/masked base blocks)`` instead:

1. Base blocks (pids below the first append band) of a sorted dataset
   carry DISJOINT, ordered key ranges; their max-keys are the group
   boundaries (read from sidecar stats — zero data reads to plan).
2. Band rows decode once, distributed, and route to a group via
   ``searchsorted`` over those boundaries; rows beyond the last base max
   form tail groups bounded by the band blocks' own max stats.
3. A base block that received band rows REWRITES (decode + merge + sort +
   re-encode); one carrying delete masks REWRITES too (a byte-copy would
   resurrect its deleted rows).  Every other base block BYTE-COPIES —
   same payload, same checksum, same stats/bloom sidecar, no decode.
4. Output pids follow base order (tail groups last), so the destination
   is again a sorted dataset with disjoint ranges, ready for the next
   append → recluster cycle.

Run it quiesced (like compaction/z-order, it snapshots the visible
partition set at entry — rows from an append that COMMITS mid-run would
be missing from the destination; the single-writer append gate does not
cover read-side maintenance).  Deterministic end-to-end (groups derive
only from committed stats; block encode is the deterministic shared
kernel); like compaction, the
destination is cleared at entry (stale sidecars from a previous larger
run would silently duplicate rows) and per-task sidecar-exists skips keep
speculative task attempts idempotent within a run.
"""
from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import SparkSession

from rugo_spark import manifest as mf


def _publish_copy(src: str, dst: str) -> None:
    """Byte-copy ``src`` to ``dst`` through an attempt-unique temp file, so
    two speculative attempts copying one block never share a temp inode."""
    tmp = mf.inprogress_path(dst)
    shutil.copyfile(src, tmp)
    os.replace(tmp, dst)


def recluster_dataset(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    sort_key: str | None = None,
) -> dict:
    """Merge ``src_dir``'s append bands into its sorted base → ``dst_dir``.
    ``sort_key`` defaults to the range-plan key the sorted encode recorded.
    Returns ``{"copied", "rewritten", "tail_blocks", "rewritten_rows",
    "n_blocks"}``."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa

    from rugo_spark import deletes as dl
    from rugo_spark import engine as eng

    if os.path.realpath(src_dir) == os.path.realpath(dst_dir):
        raise ValueError("recluster_dataset: dst_dir must differ from src_dir")
    if mf.rollback_mask(src_dir) is not None:
        raise ValueError(f"{src_dir} has an in-progress rollback; finish it first")
    plan = mf.read_plan(src_dir) or {}
    if sort_key is None:
        if plan.get("mode") in ("range", "recluster"):
            sort_key = plan.get("key_col")
        if sort_key is None:
            raise ValueError(
                "recluster_dataset needs sort_key= (no range plan recorded); "
                "for an unsorted dataset use encode_table_sorted instead"
            )
    arrow_schema, spark_schema = mf.read_schema(src_dir)
    if sort_key not in arrow_schema.names:
        raise ValueError(f"unknown sort_key {sort_key!r} for {src_dir}")
    kt = arrow_schema.field(sort_key).type
    if not (pa.types.is_integer(kt) or pa.types.is_string(kt)
            or pa.types.is_large_string(kt)):
        raise ValueError(
            f"recluster supports string/integer sort keys, got {kt} — "
            "boundary comparison against sidecar stats must be exact"
        )
    payload = mf.read_schema_payload(src_dir) or {}
    size_col = payload.get("size_col")
    rows = sorted(
        mf.visible_partitions(src_dir), key=lambda r: int(r["partition_id"])
    )
    if not rows:
        raise ValueError(f"nothing to recluster: {src_dir} has no partitions")
    base_meta = [r for r in rows if int(r["partition_id"]) < mf.APPEND_BAND]
    band_meta = [r for r in rows if int(r["partition_id"]) >= mf.APPEND_BAND]
    if not base_meta:
        raise ValueError(
            f"{src_dir} has no pre-band base blocks; encode_table_sorted is "
            "the right tool for an all-band dataset"
        )

    def _minmax(r):
        meta = json.loads(r["codecs"]).get(sort_key) or {}
        return meta.get("min"), meta.get("max")

    def _coerce(v):
        return v if pa.types.is_string(kt) or pa.types.is_large_string(kt) else int(v)

    maxes = []
    for r in base_meta:
        _, hi = _minmax(r)
        if hi is None:
            raise ValueError(
                f"base block pid {r['partition_id']} has no {sort_key!r} "
                "stats — was the dataset written sorted on this key?"
            )
        maxes.append(_coerce(hi))
    if any(maxes[i] >= maxes[i + 1] for i in range(len(maxes) - 1)):
        raise ValueError(
            f"{src_dir} base blocks are not disjoint/ordered on {sort_key!r}; "
            "recluster requires a sorted base (encode_table_sorted output or "
            "a previous recluster)"
        )
    n_base = len(base_meta)
    for r in band_meta:
        if _minmax(r)[1] is None:
            raise ValueError(
                f"band block pid {r['partition_id']} has no {sort_key!r} "
                "stats (appended without sort_key=?) — recluster plans from "
                "stats; re-append with sort_key or use encode_table_sorted"
            )
    # tail boundaries: band-block max stats above the last base max — each
    # tail group stays ~band-block-sized and deterministic from stats alone
    tail_bounds = sorted({
        _coerce(hi) for r in band_meta
        for _, hi in [_minmax(r)] if hi is not None and _coerce(hi) > maxes[-1]
    })
    # visible masks (consistent view: single read under no writer)
    masks_by_pid: dict[int, list] = {}
    for name in dl.visible_delete_files(src_dir):
        for e in dl.read_delete_file(src_dir, name).get("entries", []):
            masks_by_pid.setdefault(int(e["pid"]), []).append(
                (e["enc"], e.get("data", ""), int(e["n_rows"]))
            )

    mf.clear_manifest(dst_dir)
    mf.write_schema(dst_dir, arrow_schema, json.dumps(spark_schema),
                    extra=mf.carry_payload(payload, size_col=size_col))
    # a future recluster/sorted-resume must see this is NOT a resumable
    # range encode (its boundaries are implicit in the block stats)
    mf.write_plan(dst_dir, {"mode": "recluster", "key_col": sort_key,
                            "num_partitions": n_base + len(tail_bounds)})
    os.makedirs(os.path.join(dst_dir, mf.BLOCKS_DIR), exist_ok=True)
    schema_bytes = arrow_schema.serialize().to_pybytes()
    sc = spark.sparkContext
    maxes_bc = sc.broadcast(maxes)
    tail_bc = sc.broadcast(tail_bounds)
    masks_bc = sc.broadcast(masks_by_pid)

    # ---- stage 1: band rows → (group id, row), one distributed decode ----
    rewritten_rows = 0
    gids_with_rows: set[int] = set()
    if band_meta:
        src_pdf = pd.DataFrame({
            "pid": [int(r["partition_id"]) for r in band_meta],
            "path": [r["block_path"] for r in band_meta],
        })
        bands_src = spark.createDataFrame(src_pdf).repartition(
            min(len(src_pdf), sc.defaultParallelism * 4)
        )

        def scan_bands(batches):
            from rugo_spark import deletes as _dl
            from rugo_spark.engine import read_block_file

            schema = pa.ipc.read_schema(pa.py_buffer(schema_bytes))
            mx = np.array(maxes_bc.value)
            tb = np.array(tail_bc.value) if tail_bc.value else None
            for b in batches:
                for pid, path in zip(b.column(0).to_pylist(), b.column(1).to_pylist()):
                    tbl = pa.Table.from_batches(
                        list(read_block_file(path, schema, None, None))
                    )
                    raw = masks_bc.value.get(int(pid))
                    if raw:
                        tbl = pa.Table.from_batches(
                            list(_dl.apply_mask(tbl.to_batches(), _dl.union_positions(raw))),
                            schema=tbl.schema,
                        )
                    if tbl.num_rows == 0:
                        continue
                    keys = tbl.column(sort_key).to_numpy(zero_copy_only=False)
                    gid = np.searchsorted(mx, keys, side="left")
                    over = gid >= len(mx)
                    if over.any():
                        assert tb is not None
                        # clamp: keys beyond the last tail bound join the
                        # final tail group (tb derives from the same stats,
                        # so only equal-to-last-bound keys reach the edge)
                        tgid = np.minimum(
                            np.searchsorted(tb, keys[over], side="left"),
                            len(tb) - 1,
                        )
                        gid[over] = len(mx) + tgid
                    out = tbl.append_column(
                        "__rugo_gid", pa.array(gid.astype("int64"))
                    )
                    yield from out.to_batches()

        from pyspark.sql.types import LongType, StructField, StructType

        scan_schema = StructType(
            list(StructType.fromJson(spark_schema).fields)
            + [StructField("__rugo_gid", LongType(), False)]
        )
        bands_df = bands_src.mapInArrow(scan_bands, scan_schema)

        base_map = {
            i: (
                r["block_path"],
                tuple(masks_by_pid.get(int(r["partition_id"])) or ()),
            )
            for i, r in enumerate(base_meta)
        }
        base_bc = sc.broadcast(base_map)

        def fold(key: tuple, tbl: pa.Table) -> pa.Table:
            from rugo_spark import deletes as _dl
            from rugo_spark.engine import encode_block_row, read_block_file

            gid = int(key[0].as_py())
            if os.path.exists(mf.sidecar_path(dst_dir, gid)):
                return mf.MANIFEST_ARROW.empty_table()
            tbl = tbl.drop_columns("__rugo_gid")
            entry = base_bc.value.get(gid)
            if entry is not None:
                path, raw = entry
                schema = pa.ipc.read_schema(pa.py_buffer(schema_bytes))
                base_tbl = pa.Table.from_batches(
                    list(read_block_file(path, schema, None, None))
                )
                if raw:
                    base_tbl = pa.Table.from_batches(
                        list(_dl.apply_mask(
                            base_tbl.to_batches(), _dl.union_positions(list(raw))
                        )),
                        schema=base_tbl.schema,
                    )
                # pre-evolution base blocks may store fewer columns: decode
                # null-fills the tail, so both sides share the full schema
                tbl = pa.concat_tables([base_tbl, tbl], promote_options="default")
            tbl = tbl.sort_by(sort_key)
            row = encode_block_row(
                tbl, mf.block_path(dst_dir, gid), gid, sort_key=sort_key,
                size_col=size_col, presorted=True,
            )
            mf.write_sidecar(dst_dir, row)
            return pa.Table.from_batches([mf.manifest_batch([row])])

        folded = (
            bands_df.groupBy("__rugo_gid")
            .applyInArrow(fold, mf.MANIFEST_DDL)
            .collect()
        )
        rewritten_rows = sum(int(r["n_rows"]) for r in folded) or 0
        gids_with_rows = {mf.part_pid(r["block_path"]) for r in folded}

    # ---- stage 2: untouched base blocks — byte-copy (or purge-rewrite
    # when masked), distributed ----
    copy_specs = []
    for i, r in enumerate(base_meta):
        if i in gids_with_rows:
            continue
        copy_specs.append({
            "gid": i,
            "src": r["block_path"],
            "masked": int(r["partition_id"]) in masks_by_pid,
            "pid": int(r["partition_id"]),
            "row": {k: r[k] for k in mf.MANIFEST_ARROW.names if k in r},
            "bloom_col": r.get("bloom_col"),
            "bloom": r.get("bloom"),
        })
    n_copied = n_purged = 0
    if copy_specs:
        cp_src = spark.createDataFrame(
            pd.DataFrame({"spec": [json.dumps(s) for s in copy_specs]})
        ).repartition(min(len(copy_specs), sc.defaultParallelism * 4))

        def copier(batches):
            from rugo_spark import deletes as _dl
            from rugo_spark.engine import encode_block_row, read_block_file

            schema = pa.ipc.read_schema(pa.py_buffer(schema_bytes))
            for b in batches:
                for sj in b.column(0).to_pylist():
                    spec = json.loads(sj)
                    gid = int(spec["gid"])
                    if os.path.exists(mf.sidecar_path(dst_dir, gid)):
                        continue
                    dst = mf.block_path(dst_dir, gid)
                    if spec["masked"]:
                        tbl = pa.Table.from_batches(
                            list(read_block_file(spec["src"], schema, None, None))
                        )
                        raw = masks_bc.value.get(int(spec["pid"])) or []
                        tbl = pa.Table.from_batches(
                            list(_dl.apply_mask(
                                tbl.to_batches(), _dl.union_positions(raw)
                            )),
                            schema=tbl.schema,
                        )
                        row = encode_block_row(
                            tbl, dst, gid, sort_key=sort_key,
                            size_col=size_col, presorted=True,
                        )
                        kind = "purged"
                    else:
                        _publish_copy(spec["src"], dst)
                        row = dict(spec["row"])
                        row["partition_id"] = gid
                        row["block_path"] = dst
                        if spec.get("bloom_col"):
                            row["bloom_col"] = spec["bloom_col"]
                            row["bloom"] = spec["bloom"]
                        kind = "copied"
                    mf.write_sidecar(dst_dir, row)
                    yield pa.RecordBatch.from_pylist(
                        [{"kind": kind}], schema=pa.schema([("kind", pa.string())])
                    )

        kinds = [
            r["kind"]
            for r in cp_src.mapInArrow(copier, "kind string").collect()
        ]
        n_copied = kinds.count("copied")
        n_purged = kinds.count("purged")

    mf.commit_snapshot(dst_dir, "recluster")
    done = mf.completed_partitions(dst_dir, cols=["partition_id"])
    return {
        "copied": n_copied,
        "rewritten": len([g for g in gids_with_rows if g < n_base]) + n_purged,
        "tail_blocks": sum(1 for d in done if int(d["partition_id"]) >= n_base),
        "rewritten_rows": int(rewritten_rows if band_meta else 0),
        "n_blocks": len(done),
    }
