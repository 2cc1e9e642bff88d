"""Read-path parity: every reader decodes blocks through the one shared
block read (``engine.read_block_masked``), so a masked multi-stripe block
returns the same rows through ``decode_table``, ``format("rugo")`` and
``read_changes`` — including when a pushed filter would otherwise skip
stripes (delete positions are block-absolute, so a masked block must
decode every stripe).  Also pins the precombine encode's plan-level
shuffle pin and ``decode_table``'s argument and checksum contracts.
"""
from __future__ import annotations

import json
import os
import struct

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

import pyspark.sql.functions as F

from rugo_spark import manifest as mf
from rugo_spark.engine import (
    append_table,
    decode_table,
    delete_where,
    encode_table,
    read_changes,
)
from rugo_spark.tokengen import token_batch


def _stripes(path: str) -> list[dict]:
    """An RGS2 block's stripe directory (one min/max entry per stripe)."""
    with open(path, "rb") as f:
        magic, _ = struct.unpack("<4sI", f.read(8))
        if magic != b"RGS2":
            return []
        (dlen,) = struct.unpack("<Q", f.read(8))
        return json.loads(f.read(dlen))


def _masked_lookup_block(out_dir: str, pids) -> tuple[str, list[str], str]:
    """Pick a multi-stripe block among ``pids`` whose LAST stripe's first
    key lies outside stripe 0's doc_id range (a lookup of that key skips
    stripe 0).  Returns (block path, stripe-0 doc_ids, lookup key)."""
    from rugo_spark.engine import read_block_file

    schema, _ = mf.read_schema(out_dir)
    for pid, row in sorted(mf.load_rows(out_dir, pids).items()):
        sdir = _stripes(row["block_path"])
        if len(sdir) < 2:
            continue
        batches = list(read_block_file(row["block_path"], schema, ["doc_id"]))
        assert len(batches) == len(sdir)  # one batch per stripe
        key = batches[-1].column(0)[0].as_py()
        lo, hi = sdir[0]["doc_id"]
        if not lo <= key <= hi:
            return row["block_path"], batches[0].column(0).to_pylist(), key
    raise AssertionError(f"no multi-stripe block with disjoint stripes among {pids}")


@pytest.fixture(scope="module")
def masked_ds(spark, tmp_path_factory):
    """Precombine base (multi-stripe RGS2 blocks: one stripe per input file)
    plus a one-split append large enough to stripe; stripe 0 of one block of
    each is deleted."""
    root = tmp_path_factory.mktemp("read_parity")
    base_dir, extra_dir = root / "base", root / "extra"
    base_dir.mkdir()
    extra_dir.mkdir()
    base = [token_batch(300, seed=11, start=i * 300) for i in range(4)]
    for i, t in enumerate(base):
        pq.write_table(t, str(base_dir / f"f{i}.parquet"))
    # ~2.4 KB rows: the map-only writer stripes at 4096 rows
    extra = token_batch(6500, seed=12, start=100_000, mean_len=600)
    pq.write_table(extra, str(extra_dir / "f0.parquet"))

    out = str(root / "ds")
    encode_table(spark.read.parquet(str(base_dir)), out, key_col="doc_id",
                 size_col="n_tok", num_partitions=3, precombine=True)
    base_snap = int(mf.snapshot_log(out)[-1]["id"])
    append_table(spark.read.parquet(str(extra_dir)), out, sort_key="doc_id",
                 size_col="n_tok")
    all_pids = sorted(int(r["partition_id"]) for r in mf.visible_partitions(out))
    base_pids = [p for p in all_pids if p < mf.APPEND_BAND]
    band_pids = [p for p in all_pids if p >= mf.APPEND_BAND]
    assert len(band_pids) == 1

    deleted, keys = [], []
    for pids in (base_pids, band_pids):
        _, stripe0, key = _masked_lookup_block(out, pids)
        deleted += stripe0
        keys.append(key)
    res = delete_where(spark, out, [("doc_id", "in", deleted)])
    assert res["n_deleted"] == len(deleted)

    def pdf(tables):
        return pd.concat([t.to_pandas() for t in tables], ignore_index=True)

    gone = set(deleted)
    want_base, want_extra = pdf(base), pdf([extra])
    return {
        "out": out,
        "base_snap": base_snap,
        "keys": keys,
        "want": pd.concat([want_base, want_extra], ignore_index=True)
        .loc[lambda d: ~d["doc_id"].isin(gone)],
        "inserts": want_extra.loc[lambda d: ~d["doc_id"].isin(gone)],
        "deletes": want_base.loc[lambda d: d["doc_id"].isin(gone)],
    }


def _assert_rows(got: pd.DataFrame, want: pd.DataFrame) -> None:
    got = got.sort_values("doc_id").reset_index(drop=True)
    want = want.sort_values("doc_id").reset_index(drop=True)
    assert got["doc_id"].tolist() == want["doc_id"].tolist()
    assert got["n_tok"].tolist() == want["n_tok"].tolist()
    assert got["source"].tolist() == want["source"].tolist()
    for g, w in zip(got["tokens"].values, want["tokens"].values):
        np.testing.assert_array_equal(np.asarray(g), np.asarray(w))


def test_masked_multistripe_lookup_decode_table(spark, masked_ds):
    for key in masked_ds["keys"]:
        got = decode_table(spark, masked_ds["out"], filters=[("doc_id", "=", key)])
        want = masked_ds["want"].loc[lambda d: d["doc_id"] == key]
        assert len(want) == 1
        _assert_rows(got.toPandas(), want)
    _assert_rows(decode_table(spark, masked_ds["out"]).toPandas(), masked_ds["want"])


def test_masked_multistripe_lookup_format_rugo(spark, masked_ds):
    from rugo_spark.datasource import register

    register(spark)
    # a fresh DataFrame per query: Spark keeps the planned partitions of a
    # DataFrame whose earlier query pushed filters (see ROADMAP)
    for key in masked_ds["keys"]:
        df = spark.read.format("rugo").load(masked_ds["out"])
        want = masked_ds["want"].loc[lambda d: d["doc_id"] == key]
        _assert_rows(df.filter(F.col("doc_id") == key).toPandas(), want)
    df = spark.read.format("rugo").load(masked_ds["out"])
    _assert_rows(df.toPandas(), masked_ds["want"])


def test_masked_multistripe_read_changes(spark, masked_ds):
    changes = read_changes(spark, masked_ds["out"], masked_ds["base_snap"]).toPandas()
    _assert_rows(changes[changes["_change_type"] == "insert"], masked_ds["inserts"])
    _assert_rows(changes[changes["_change_type"] == "delete"], masked_ds["deletes"])
    key = masked_ds["keys"][1]  # the band block's lookup key is an insert
    got = changes[(changes["_change_type"] == "insert") & (changes["doc_id"] == key)]
    _assert_rows(got, masked_ds["inserts"].loc[lambda d: d["doc_id"] == key])


# ------------------------------------------------------- decode contracts


@pytest.mark.parametrize(
    "kwargs", [{"plan": "distrbuted"}, {"plan": "LOCAL"}, {"on_corrupt": "skipp"},
               {"on_corrupt": None}],
)
def test_decode_table_rejects_unknown_modes(spark, tmp_path, kwargs):
    # checked before the dataset is opened: a typo never reads data
    with pytest.raises(ValueError, match=next(iter(kwargs))):
        decode_table(spark, str(tmp_path / "never_read"), **kwargs)


def test_on_corrupt_skip_catches_only_checksum_mismatch(spark, tmp_out):
    from rugo_spark.engine import BlockChecksumError, read_block_masked

    pdf = pd.DataFrame({"k": [f"k{i:03d}" for i in range(400)], "v": list(range(400))})
    encode_table(spark.createDataFrame(pdf), tmp_out, key_col="k", num_partitions=4)
    rows = sorted(mf.visible_partitions(tmp_out), key=lambda r: int(r["partition_id"]))
    schema, _ = mf.read_schema(tmp_out)
    with pytest.raises(BlockChecksumError, match="checksum mismatch"):
        read_block_masked(rows[0]["block_path"], schema, None, None, (),
                          int(rows[0]["checksum"]) ^ 1)
    # a missing block is not a checksum mismatch: 'skip' must not hide it
    os.remove(rows[0]["block_path"])
    with pytest.raises(Exception, match="No such file|FileNotFound"):
        decode_table(spark, tmp_out, verify_checksums=True, on_corrupt="skip").count()


# ------------------------------------------------------------- precombine


def test_precombine_leaves_session_confs_alone(spark, tmp_path, monkeypatch):
    """The reduce-side task count is pinned in the plan (an explicit-count
    repartition on partition_id, which the grouping reuses): no conf is set
    on the shared session, and the data shuffles exactly once."""
    from pyspark.sql.conf import RuntimeConfig
    from pyspark.sql.readwriter import DataFrameWriter

    src = tmp_path / "src"
    src.mkdir()
    for i in range(2):
        pq.write_table(token_batch(200, seed=5, start=i * 200), str(src / f"f{i}.parquet"))
    set_calls, written = [], []
    real_set, real_save = RuntimeConfig.set, DataFrameWriter.save

    def record_set(self, key, value):
        set_calls.append((key, value))
        return real_set(self, key, value)

    def record_save(self, *args, **kwargs):
        written.append(self._df)
        return real_save(self, *args, **kwargs)

    monkeypatch.setattr(RuntimeConfig, "set", record_set)
    monkeypatch.setattr(DataFrameWriter, "save", record_save)
    encode_table(spark.read.parquet(str(src)), str(tmp_path / "out"),
                 key_col="doc_id", size_col="n_tok", num_partitions=3,
                 precombine=True)
    assert set_calls == []
    assert len(written) == 1
    plan = written[0]._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert sum(int(r["n_rows"]) for r in mf.completed_partitions(str(tmp_path / "out"))) == 400
