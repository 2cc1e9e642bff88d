"""UPDATE … SET … WHERE (`engine.update_where` — completes the DML triad
with delete_where/merge_table; beyond-reference lifecycle surface, the
reference engine being read-only ``rugo/parquet``).

Covers: parity vs a CASE-expression oracle, exact row/token accounting
when the assignment changes the size column itself, SQL re-run semantics
(assignments apply again — Delta/Spark SQL behavior, NOT idempotence),
atomic crash-before-flip (nothing visible, reclaim restores), validation,
and snapshot lineage."""
from __future__ import annotations

import numpy as np
import pytest

from rugo_spark import deletes as dl
from rugo_spark import manifest as mf
from rugo_spark.engine import (
    decode_table,
    encode_table,
    metadata_agg,
    reclaim_append,
    update_where,
)
from rugo_spark.tokengen import token_batch

N_DOCS = 800


@pytest.fixture(scope="module")
def token_df(spark):
    return spark.createDataFrame(token_batch(N_DOCS).to_pandas()).cache()


@pytest.fixture()
def encoded(spark, token_df, tmp_out):
    encode_table(token_df, tmp_out, key_col="doc_id", size_col="n_tok",
                 num_partitions=5)
    return tmp_out


def test_update_roundtrip(spark, token_df, encoded):
    import pyspark.sql.functions as F

    med = int(token_df.approxQuantile("n_tok", [0.5], 0.0)[0])
    res = update_where(
        spark, encoded, [("n_tok", "<", med)], {"source": "'requeued'"}
    )
    n_match = token_df.filter(F.col("n_tok") < med).count()
    assert res["n_updated"] == n_match > 0
    assert res["delete_file"].startswith("delete-update-")
    got = decode_table(spark, encoded)
    assert got.count() == N_DOCS  # UPDATE conserves rows
    assert got.filter(F.col("source") == "requeued").count() == n_match
    # untouched columns byte-identical: token arrays survive the rewrite
    want = token_df.withColumn(
        "source",
        F.when(F.col("n_tok") < med, F.lit("requeued")).otherwise(F.col("source")),
    )
    g = got.toPandas().sort_values("doc_id").reset_index(drop=True)
    w = want.toPandas().sort_values("doc_id").reset_index(drop=True)
    assert g["source"].tolist() == w["source"].tolist()
    for a, b in zip(g["tokens"].values, w["tokens"].values):
        np.testing.assert_array_equal(np.asarray(a), np.asarray(b))
    snap = mf.snapshot_log(encoded)[-1]
    assert snap["op"] == "update" and snap["n_rows"] == N_DOCS


def test_update_size_col_keeps_accounting_exact(spark, token_df, encoded):
    """Assignments that change the size column: metadata_agg must equal the
    scan (old mass subtracted via masks, new mass counted via the band)."""
    import pyspark.sql.functions as F

    res = update_where(
        spark, encoded, [("n_tok", ">=", 0)], {"n_tok": "n_tok + 7"}
    )
    assert res["n_updated"] == N_DOCS
    agg = metadata_agg(spark, encoded).first()
    want = token_df.agg(
        F.count("*"), F.sum(F.col("n_tok") + 7)
    ).first()
    assert agg["n_rows"] == want[0] == N_DOCS
    assert agg["n_tokens"] == want[1]


def test_update_rerun_reapplies(spark, token_df, encoded):
    """SQL semantics: the same UPDATE twice applies the assignment twice
    (first run's replacements match the predicate again)."""
    import pyspark.sql.functions as F

    r1 = update_where(spark, encoded, [("n_tok", ">=", 0)], {"n_tok": "n_tok + 1"})
    r2 = update_where(spark, encoded, [("n_tok", ">=", 0)], {"n_tok": "n_tok + 1"})
    assert r1["n_updated"] == r2["n_updated"] == N_DOCS
    got = decode_table(spark, encoded).agg(F.sum("n_tok")).first()[0]
    want = token_df.agg(F.sum(F.col("n_tok") + 2)).first()[0]
    assert got == want


def test_update_no_match_is_noop(spark, token_df, encoded):
    res = update_where(
        spark, encoded, [("n_tok", "<", -1)], {"source": "'never'"}
    )
    assert res == {"n_updated": 0, "delete_file": None, "snapshot": None}
    assert decode_table(spark, encoded).count() == N_DOCS
    assert dl.visible_delete_files(encoded) == []


def test_update_crash_before_flip(spark, token_df, encoded, monkeypatch):
    from rugo_spark import engine as eng

    real = eng._atomic_write

    def dying(path, payload):
        if path.endswith(".json") and b'"complete": true' in payload:
            raise RuntimeError("simulated crash before completion flip")
        return real(path, payload)

    monkeypatch.setattr(eng, "_atomic_write", dying)
    with pytest.raises(RuntimeError, match="simulated crash"):
        update_where(spark, encoded, [("n_tok", ">=", 0)], {"source": "'v2'"})
    monkeypatch.setattr(eng, "_atomic_write", real)
    assert dl.visible_delete_files(encoded) == []
    got = decode_table(spark, encoded)
    assert got.count() == N_DOCS
    assert got.filter("source = 'v2'").count() == 0
    assert len(reclaim_append(encoded)["reclaimed"]) == 1
    assert decode_table(spark, encoded).count() == N_DOCS


def test_update_rerun_after_crash_adopts_its_band(
    spark, token_df, encoded, tmp_path, monkeypatch
):
    """A crashed update re-run over the same state adopts its own band: the
    decode feeding the band packs the same rows into the same task ids
    (block pid = band base + task id), so the re-run rewrites only the
    missing blocks, byte-identical to an update that never crashed."""
    import os

    import pyspark.sql.functions as F

    from rugo_spark import engine as eng

    pred, assign = [("n_tok", ">=", 0)], {"source": "'v2'"}
    clean = str(tmp_path / "clean")
    encode_table(token_df, clean, key_col="doc_id", size_col="n_tok",
                 num_partitions=5)
    update_where(spark, clean, pred, assign)

    real = eng._atomic_write

    def dying(path, payload):
        if path.endswith(".json") and b'"complete": true' in payload:
            raise RuntimeError("simulated crash before completion flip")
        return real(path, payload)

    monkeypatch.setattr(eng, "_atomic_write", dying)
    with pytest.raises(RuntimeError, match="simulated crash"):
        update_where(spark, encoded, pred, assign)
    monkeypatch.setattr(eng, "_atomic_write", real)
    (marker,) = mf.append_reservations(encoded)
    base = int(marker["base"])
    band = [int(r["partition_id"]) for r in mf.completed_partitions(encoded)
            if int(r["partition_id"]) >= base]
    assert len(band) >= 2
    os.remove(mf.sidecar_path(encoded, band[-1]))  # a partial band
    os.remove(mf.block_path(encoded, band[-1]))

    res = update_where(spark, encoded, pred, assign)
    assert res["n_updated"] == N_DOCS
    (marker,) = mf.append_reservations(encoded)
    assert marker["complete"] and int(marker["base"]) == base  # adopted

    def band_blocks(d):
        lo = int(mf.append_reservations(d)[0]["base"])
        return [(int(r["partition_id"]) - lo, int(r["checksum"]))
                for r in mf.visible_partitions(d) if int(r["partition_id"]) >= lo]

    assert band_blocks(encoded) == band_blocks(clean)
    cols = ["doc_id", "source", "n_tok"]
    got = decode_table(spark, encoded).select(cols).orderBy("doc_id").collect()
    want = decode_table(spark, clean).select(cols).orderBy("doc_id").collect()
    assert got == want
    assert decode_table(spark, encoded).filter(F.col("source") != "v2").count() == 0


def test_update_resume_refuses_after_state_change(
    spark, token_df, encoded, monkeypatch
):
    """The update fingerprint binds the lifecycle state its source was
    decoded from: crash an update, commit an unrelated DELETE, re-run the
    update — it must read its own crashed band as FOREIGN (loud
    single-writer error; reclaim is the documented recovery), never adopt
    a band whose completed rows came from a different source snapshot."""
    from rugo_spark import engine as eng
    from rugo_spark.engine import delete_where

    real = eng._atomic_write

    def dying(path, payload):
        if path.endswith(".json") and b'"complete": true' in payload:
            raise RuntimeError("simulated crash before completion flip")
        return real(path, payload)

    monkeypatch.setattr(eng, "_atomic_write", dying)
    with pytest.raises(RuntimeError, match="simulated crash"):
        update_where(spark, encoded, [("n_tok", ">=", 100)], {"source": "'v2'"})
    monkeypatch.setattr(eng, "_atomic_write", real)
    delete_where(spark, encoded, [("n_tok", "<", 100)])  # state moved on
    with pytest.raises(ValueError, match="incomplete append session"):
        update_where(spark, encoded, [("n_tok", ">=", 100)], {"source": "'v2'"})
    reclaim_append(encoded)
    res = update_where(spark, encoded, [("n_tok", ">=", 100)], {"source": "'v2'"})
    import pyspark.sql.functions as F

    survivors = token_df.filter(F.col("n_tok") >= 100)
    assert res["n_updated"] == survivors.count()
    got = decode_table(spark, encoded)
    assert got.count() == survivors.count()
    assert got.filter("source = 'v2'").count() == survivors.count()


def test_update_validation(spark, token_df, encoded):
    with pytest.raises(ValueError, match="at least one .col, op, value."):
        update_where(spark, encoded, [], {"source": "'x'"})
    with pytest.raises(ValueError, match="at least one column assignment"):
        update_where(spark, encoded, [("n_tok", ">=", 0)], {})
    with pytest.raises(ValueError, match="unknown assignment columns"):
        update_where(spark, encoded, [("n_tok", ">=", 0)], {"nope": "1"})
    with pytest.raises(ValueError, match="unknown column"):
        update_where(spark, encoded, [("nope", "=", 1)], {"source": "'x'"})
