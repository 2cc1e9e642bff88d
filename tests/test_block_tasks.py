"""The block-read task source (`engine.block_tasks`): blocks pack into tasks
by Spark's own file-split rule, and an explicit task count never exceeds
the block count."""

from __future__ import annotations

import os

import pytest

import pyspark.sql.functions as F

from rugo_spark.engine import (
    _split_confs,
    block_tasks,
    decode_table,
    encode_table,
    pack_blocks,
)
from rugo_spark.tokengen import token_batch

MAX_BYTES = 64 << 10
OPEN_COST = 4 << 10

# distinct sizes: Spark breaks size ties by listing order, pack_blocks by
# input order, so equal sizes could pair differently without a rule drift
SIZE_VECTORS = {
    "all_tiny": [100 + i for i in range(12)],
    "mixed": [50_000, 3_000, 20_000, 100, 7_000, 7_001, 40_000, 1_000, 12_000],
    "one_over_max": [200_000, 5_000, 5_001, 30_000, 1_000],
}


@pytest.fixture()
def split_confs(spark):
    keys = {
        "spark.sql.files.maxPartitionBytes": str(MAX_BYTES),
        "spark.sql.files.openCostInBytes": str(OPEN_COST),
    }
    for k, v in keys.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k in keys:
            spark.conf.unset(k)


@pytest.mark.parametrize("min_parts", [None, 2])
@pytest.mark.parametrize("name", sorted(SIZE_VECTORS))
def test_packing_matches_spark_file_splits(spark, split_confs, tmp_path, name, min_parts):
    """binaryFile files are never split, so Spark packs them with exactly the
    rule pack_blocks copies: same number of tasks, same members per task."""
    sizes = SIZE_VECTORS[name]
    d = tmp_path / "files"
    d.mkdir()
    for i, n in enumerate(sizes):
        (d / f"f{i:02d}.bin").write_bytes(b"x" * n)
    if min_parts is not None:
        spark.conf.set("spark.sql.files.minPartitionNum", str(min_parts))
    try:
        confs = _split_confs(spark)
        files = spark.read.format("binaryFile").load(str(d))
        n_spark = files.rdd.getNumPartitions()
        spark_groups = {}
        for r in files.select("path", F.spark_partition_id().alias("t")).collect():
            spark_groups.setdefault(r["t"], set()).add(
                int(os.path.basename(r["path"])[1:3])
            )
    finally:
        spark.conf.unset("spark.sql.files.minPartitionNum")
    assert confs[:2] == (MAX_BYTES, OPEN_COST)
    groups = pack_blocks(sizes, *confs)
    assert len(groups) == n_spark
    assert sorted(map(sorted, groups)) == sorted(map(sorted, spark_groups.values()))


def test_block_tasks_hand_each_task_its_rows(spark):
    sizes = [5 << 20, 1 << 20, 3 << 20, 200, 7 << 20]
    rows = [{"i": i, "output_bytes": n} for i, n in enumerate(sizes)]

    def kernel(batches):
        yield from batches

    out = block_tasks(spark, rows, ["i"], kernel, "i long")
    assert out.rdd.getNumPartitions() == len(pack_blocks(sizes, *_split_confs(spark)))
    assert sorted(r["i"] for r in out.collect()) == list(range(len(sizes)))
    dealt = block_tasks(spark, rows, ["i"], kernel, "i long", num_tasks=2)
    per_task = dealt.rdd.glom().map(lambda rows: sorted(r["i"] for r in rows)).collect()
    assert per_task == [[2, 3, 4], [0, 1]]  # size order 4, 0, 2, 1, 3 dealt


def test_decode_num_tasks_capped_at_block_count(spark, tmp_out):
    """num_tasks above the block count used to schedule that many tasks,
    most of them empty (64 partitions over 5 blocks)."""
    df = spark.createDataFrame(token_batch(600).to_pandas())
    encode_table(df, tmp_out, key_col="doc_id", size_col="n_tok", num_partitions=5)
    got = decode_table(spark, tmp_out, num_tasks=64)
    assert got.rdd.getNumPartitions() == 5
    want = sorted(r["doc_id"] for r in df.select("doc_id").collect())
    assert sorted(r["doc_id"] for r in got.select("doc_id").collect()) == want
    assert decode_table(spark, tmp_out, num_tasks=2).rdd.getNumPartitions() == 2
