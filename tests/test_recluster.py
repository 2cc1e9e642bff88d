"""Incremental recluster (`rugo_spark/recluster.py` — the Iceberg
incremental rewriteDataFiles / Delta incremental-OPTIMIZE analog): merge
append bands into a sorted base copying untouched base blocks at byte
level, so absorbing a small append never becomes a full-table rewrite.
"""
from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pandas as pd
import pytest

from rugo_spark import deletes as dl
from rugo_spark import manifest as mf
from rugo_spark.engine import (
    append_table,
    decode_table,
    delete_where,
    encode_table_sorted,
)
from rugo_spark.recluster import recluster_dataset

N = 8000


def _df(spark, keys):
    ks = list(keys)
    return spark.createDataFrame(pd.DataFrame({
        "doc_id": [f"doc-{k:09d}" for k in ks],
        "n_tok": np.asarray(ks, dtype="int64") % 211 + 1,
    }))


def _md5(p):
    return hashlib.md5(open(p, "rb").read()).hexdigest()


def _key_ranges(out_dir):
    rows = sorted(mf.visible_partitions(out_dir),
                  key=lambda r: int(r["partition_id"]))
    out = []
    for r in rows:
        m = json.loads(r["codecs"])["doc_id"]
        out.append((m["min"], m["max"]))
    return out


@pytest.fixture()
def sorted_ds(spark, tmp_path):
    out = str(tmp_path / "base")
    encode_table_sorted(_df(spark, range(0, N, 2)), out, key_col="doc_id",
                        num_partitions=8, size_col="n_tok")
    return out


def test_recluster_merges_bands_and_copies_untouched(spark, sorted_ds, tmp_path):
    # band A: keys inside the FIRST block's range only; band B: tail keys
    first_max = _key_ranges(sorted_ds)[0][1]
    a_keys = [1, 3, 5, 7]
    assert all(f"doc-{k:09d}" < first_max for k in a_keys)
    append_table(_df(spark, a_keys), sorted_ds, sort_key="doc_id",
                 size_col="n_tok")
    b_keys = list(range(N + 1, N + 401, 2))
    append_table(_df(spark, b_keys), sorted_ds, sort_key="doc_id",
                 size_col="n_tok")
    src_blocks = {
        int(r["partition_id"]): (_md5(r["block_path"]), r["block_path"])
        for r in mf.visible_partitions(sorted_ds)
        if int(r["partition_id"]) < mf.APPEND_BAND
    }
    want = decode_table(spark, sorted_ds).toPandas().sort_values("doc_id")

    dst = str(tmp_path / "reclustered")
    res = recluster_dataset(spark, sorted_ds, dst)
    got = decode_table(spark, dst).toPandas().sort_values("doc_id")
    assert got["doc_id"].tolist() == want["doc_id"].tolist()
    assert got["n_tok"].tolist() == want["n_tok"].tolist()
    # only block 0 rewrote; blocks 1..7 byte-copied; tail block(s) appended
    assert res["rewritten"] == 1 and res["copied"] == 7
    assert res["tail_blocks"] >= 1
    for r in mf.visible_partitions(dst):
        gid = int(r["partition_id"])
        if 1 <= gid <= 7:
            assert _md5(r["block_path"]) == src_blocks[gid][0], (
                f"untouched base block {gid} was rewritten"
            )
    # dst ranges are disjoint and ordered — the next recluster accepts it
    rngs = _key_ranges(dst)
    for (a_lo, a_hi), (b_lo, b_hi) in zip(rngs, rngs[1:]):
        assert a_hi < b_lo, f"overlap: {a_hi} !< {b_lo}"
    # and the key stats prune: a point lookup keeps exactly one block
    from rugo_spark.engine import _sidecar_keep

    rows = mf.visible_partitions(dst)
    kept = [r for r in rows
            if _sidecar_keep(r, [("doc_id", "=", "doc-000000003")])]
    assert len(kept) == 1


def test_recluster_purges_masks_everywhere(spark, sorted_ds, tmp_path):
    append_table(_df(spark, [1, 3]), sorted_ds, sort_key="doc_id",
                 size_col="n_tok")
    # mask rows in an untouched base block AND in the band
    delete_where(spark, sorted_ds, [("doc_id", "in",
                                     [f"doc-{N - 2:09d}", "doc-000000001"])])
    want = decode_table(spark, sorted_ds).count()
    dst = str(tmp_path / "dst")
    res = recluster_dataset(spark, sorted_ds, dst)
    assert not os.path.isdir(os.path.join(dst, dl.DELETES_DIR))
    assert decode_table(spark, dst).count() == want
    # the masked untouched block was purge-rewritten, not byte-copied
    assert res["rewritten"] >= 2


def test_recluster_chains_and_guards(spark, sorted_ds, tmp_path):
    append_table(_df(spark, range(N + 1, N + 51, 2)), sorted_ds,
                 sort_key="doc_id", size_col="n_tok")
    d1 = str(tmp_path / "d1")
    recluster_dataset(spark, sorted_ds, d1)
    # append to the RECLUSTERED dataset and recluster again (the cycle)
    append_table(_df(spark, range(N + 100, N + 140, 2)), d1,
                 sort_key="doc_id", size_col="n_tok")
    d2 = str(tmp_path / "d2")
    res = recluster_dataset(spark, d1, d2)
    assert res["copied"] > 0
    assert decode_table(spark, d2).count() == decode_table(spark, d1).count()
    # guards
    with pytest.raises(ValueError, match="must differ"):
        recluster_dataset(spark, d2, d2)
    with pytest.raises(ValueError, match="unknown sort_key"):
        recluster_dataset(spark, d1, str(tmp_path / "x"), sort_key="nope")


def test_recluster_refuses_unsorted_or_statless(spark, tmp_path):
    from rugo_spark.engine import encode_table

    out = str(tmp_path / "unsorted")
    encode_table(_df(spark, np.random.default_rng(3).permutation(2000)),
                 out, key_col="n_tok", num_partitions=4)
    with pytest.raises(ValueError, match="no range plan|not disjoint"):
        recluster_dataset(spark, out, str(tmp_path / "y"))
    # a band appended WITHOUT sort_key= still carries per-column min/max
    # stats (every leaf column records them), so recluster absorbs it
    srt = str(tmp_path / "srt")
    encode_table_sorted(_df(spark, range(0, 2000, 2)), srt,
                        key_col="doc_id", num_partitions=4)
    append_table(_df(spark, [1, 3]), srt)
    z = str(tmp_path / "z")
    recluster_dataset(spark, srt, z)
    assert decode_table(spark, z).count() == 1002


def test_copy_publish_attempts_never_share_a_temp(tmp_path, monkeypatch):
    """Two speculative attempts copying the same base block: both open their
    copy before either renames, and the destination still ends up holding
    exactly one complete payload (a shared temp name made the second
    rename fail on a vanished file, or published an interleaved one)."""
    import shutil
    import threading

    from rugo_spark.recluster import _publish_copy

    src = tmp_path / "src.rgb"
    payload = os.urandom(1 << 20)
    src.write_bytes(payload)
    dst = tmp_path / "blocks" / "part-000000.rgb"
    dst.parent.mkdir()
    both_copied = threading.Barrier(2)
    real_copy = shutil.copyfile

    def copy_then_wait(a, b):
        real_copy(a, b)
        both_copied.wait(timeout=30)

    monkeypatch.setattr(shutil, "copyfile", copy_then_wait)
    errors = []

    def attempt():
        try:
            _publish_copy(str(src), str(dst))
        except Exception as e:  # noqa: BLE001 — surfaced by the assert below
            errors.append(e)

    threads = [threading.Thread(target=attempt) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
    assert errors == []
    assert dst.read_bytes() == payload
    assert os.listdir(dst.parent) == [dst.name]  # no temp left behind
