"""Word-shingle LSH + docgen: differential vs the sequential oracle.

The word unit is the 600k-doc bench path (bench.py dedup section); its
correctness is pinned here the same way the char unit is pinned by the
driver's ``dedup_minhash_lsh`` gate — Spark plan vs the from-spec
sequential recompute (``oracle_recompute``), exact match.
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pytest

from rugo_spark import oracle_recompute as orc
from rugo_spark.docgen import doc_batch, spark_doc_df
from rugo_spark.ops.dedup import _shingled, dedup_clusters, minhash_lsh_candidates


def test_word_shingles_match_oracle_on_edge_cases(spark):
    texts = [
        "a b c d e",
        "  leading spaces here ok",
        "trailing spaces here ok   ",
        "two  wide   gaps between words",
        "",
        "one",
        "one two",
        "one two three",
        "tab\tand\nnewline separated words here",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id long, text string")
    got = _shingled(df, "text", "id", 3, "word").orderBy("id").collect()
    for row, text in zip(got, texts):
        assert row["_sh"] == orc.shingles_row(text, 3, unit="word"), repr(text)


def test_lsh_words_matches_sequential_oracle(spark):
    tbl = doc_batch(300, seed=7)
    docs = list(zip(tbl.column("doc_id").to_pylist(), tbl.column("text").to_pylist()))
    df = spark.createDataFrame(tbl.to_pandas())
    got = sorted(
        (r["id_a"], r["id_b"], r["est_jaccard"])
        for r in minhash_lsh_candidates(
            df, n_hashes=16, n_bands=4, shingle=3, unit="word"
        ).collect()
    )
    want = sorted(
        (a, b, j)
        for a, b, _eq, j in orc.minhash_pairs(docs, n_hashes=16, n_bands=4, shingle=3, unit="word")
    )
    assert got == want
    assert len(got) > 0  # planted dups must actually collide


def test_docgen_deterministic_and_distributed_equal(spark):
    a = doc_batch(250, start=100).column("text").to_pylist()
    b = doc_batch(350).column("text").to_pylist()[100:]
    assert a == b
    sdf = spark_doc_df(spark, 300, n_partitions=5).orderBy("doc_id").toPandas()
    local = doc_batch(300).to_pandas()
    assert sdf["text"].tolist() == local["text"].tolist()
    assert sdf["n_chars"].tolist() == local["n_chars"].tolist()


def test_docgen_planted_duplicates_are_found(spark):
    n = 2000
    tbl = doc_batch(n)
    texts = tbl.column("text").to_pylist()
    from collections import Counter

    planted_dup_rows = sum(v - 1 for v in Counter(texts).values() if v > 1)
    assert planted_dup_rows > n * 0.05  # the ~10% exact-dup plant exists
    df = spark.createDataFrame(tbl.to_pandas())
    clusters = dedup_clusters(df, n_hashes=16, n_bands=4, shingle=3, unit="word")
    dropped = clusters.filter(~F.col("is_kept")).count()
    # LSH with 16 hashes / 4 bands catches essentially all exact dups plus
    # most 3-word-mutated near-dups
    assert dropped >= planted_dup_rows


def test_word_unit_reduces_shingle_count():
    t = doc_batch(50)
    texts = t.column("text").to_pylist()
    chars = float(np.mean([len(orc.shingles_row(x, 5)) for x in texts]))
    words = float(np.mean([len(orc.shingles_row(x, 3, unit="word")) for x in texts]))
    assert words * 4 < chars  # the claimed ≥4× hash-work reduction


def test_bad_unit_raises(spark):
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="unit"):
        minhash_lsh_candidates(df, unit="sentence").collect()
