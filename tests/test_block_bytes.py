"""Byte-identity pins for every block writer.

The block format is the contract: each writer below encodes the same seeded
multi-file token table, and the sorted ``(partition_id, checksum,
output_bytes)`` sidecar tuples must match the recorded constants exactly.
A refactor of the write side that changes one byte of one block fails here.
"""
from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from rugo_spark import manifest as mf
from rugo_spark.tokengen import token_batch


def _tuples(out_dir):
    return sorted(
        (int(r["partition_id"]), int(r["checksum"]), int(r["output_bytes"]))
        for r in mf.completed_partitions(out_dir)
    )


@pytest.fixture(scope="module")
def inputs(tmp_path_factory):
    root = tmp_path_factory.mktemp("block_bytes")
    base, extra = root / "base", root / "extra"
    base.mkdir()
    extra.mkdir()
    # more than one file, so the split-per-block writers see several splits
    for i, start in enumerate((0, 1000, 2000)):
        pq.write_table(token_batch(1000, seed=7, start=start), str(base / f"f{i}.parquet"))
    # append rows: one file inside the base key range, one past its end
    for i, start in enumerate((500, 3500)):
        pq.write_table(token_batch(300, seed=8, start=start), str(extra / f"f{i}.parquet"))
    return str(root), str(base), str(extra)


@pytest.fixture(scope="module")
def written(spark, inputs):
    from rugo_spark.datasource import register
    from rugo_spark.engine import (
        append_table,
        compact_dataset,
        encode_table,
        encode_table_maponly,
        encode_table_sorted,
    )
    from rugo_spark.recluster import recluster_dataset

    root, base, extra = inputs
    df = spark.read.parquet(base)
    more = spark.read.parquet(extra)
    d = {name: os.path.join(root, name) for name in EXPECTED}
    kw = dict(key_col="doc_id", size_col="n_tok", target_tokens=200_000)
    encode_table(df, d["grouped"], precombine=False, **kw)
    encode_table(df, d["precombine"], precombine=True, **kw)
    encode_table_maponly(df, d["maponly"], sort_key="doc_id", size_col="n_tok")
    encode_table_sorted(df, d["sorted"], key_col="doc_id", num_partitions=4,
                        size_col="n_tok")
    encode_table_sorted(df, d["append"], key_col="doc_id", num_partitions=4,
                        size_col="n_tok")
    append_table(more, d["append"], sort_key="doc_id", size_col="n_tok")
    compact_dataset(spark, d["grouped"], d["compact_concat"],
                    target_bytes=600_000, mode="concat")
    compact_dataset(spark, d["maponly"], d["compact_rewrite"],
                    target_bytes=1_000_000, sort_key="doc_id")
    recluster_dataset(spark, d["append"], d["recluster"])
    register(spark)
    (df.write.format("rugo").option("sortkey", "doc_id").option("sizecol", "n_tok")
     .mode("overwrite").save(d["format_rugo"]))
    return {name: _tuples(path) for name, path in d.items()}


# recorded under the test session's local[4] master and its default split
# size; the split-per-block writers' partition ids follow the input splits
EXPECTED = {
    "grouped": [
        (0, 887151045, 228090),
        (1, 3227232348, 223354),
        (2, 2895042933, 223073),
        (3, 808606978, 223065),
        (4, 933564174, 221706),
        (5, 2777805351, 221882),
    ],
    "precombine": [
        (0, 342566673, 232503),
        (1, 1448700438, 228165),
        (2, 1299553021, 227743),
        (3, 1896662461, 227549),
        (4, 206581246, 226631),
        (5, 1024357622, 226192),
    ],
    "maponly": [
        (0, 3643188950, 472598),
        (1, 2262942438, 466961),
        (2, 1386295230, 394247),
    ],
    "sorted": [
        (0, 496180909, 292081),
        (1, 3751038099, 351723),
        (2, 2530631042, 359940),
        (3, 2233550786, 331078),
    ],
    "append": [
        (0, 496180909, 292081),
        (1, 3751038099, 351723),
        (2, 2530631042, 359940),
        (3, 2233550786, 331078),
        (1000000, 3863074208, 134957),
        (1000001, 3119519601, 122060),
    ],
    "compact_concat": [
        (0, 2238528007, 451682),
        (1, 2131554215, 446379),
        (2, 348882235, 443832),
    ],
    "compact_rewrite": [
        (0, 586968482, 937775),
        (1, 1386295230, 394247),
    ],
    "recluster": [
        (0, 1891452437, 399742),
        (1, 2528361689, 365014),
        (2, 2530631042, 359940),
        (3, 2233550786, 331078),
        (4, 3863074208, 134957),
    ],
    "format_rugo": [
        (0, 3643188950, 472598),
        (1, 2262942438, 466961),
        (2, 1386295230, 394247),
    ],
}


@pytest.mark.parametrize("writer", list(EXPECTED))
def test_writer_bytes_pinned(written, writer):
    assert written[writer] == EXPECTED[writer]


EXPECTED_STRIPED = (2226484079, 3652552)


def test_striped_block_bytes_pinned(tmp_path):
    """A table past the stripe target takes the RGS2 framing inside
    ``encode_block_row`` (the map-only/append/format writers' big splits)."""
    from rugo_spark.engine import STRIPED_MAGIC2, encode_block_row

    path = str(tmp_path / "part-000000.rgb")
    row = encode_block_row(token_batch(8000, seed=9), path, 0,
                           sort_key="doc_id", size_col="n_tok")
    with open(path, "rb") as f:
        assert f.read(4) == STRIPED_MAGIC2
    assert (row["checksum"], row["output_bytes"]) == EXPECTED_STRIPED
