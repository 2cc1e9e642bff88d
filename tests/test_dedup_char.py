"""Char-unit dedup and the streamed pair kernel vs the sequential oracle.

The char unit (the default of ``minhash_lsh_candidates``,
``ngram_jaccard_pairs`` and ``dedup_clusters``) runs the same Arrow
shingle/minhash kernel as the word unit, slicing UTF-8 bytes on code-point
starts.  These tests compare it end to end with ``oracle_recompute`` on
multibyte text, and pin the bucket pair kernel's batch-at-a-time streaming
(buckets that straddle Arrow batch boundaries, star buckets longer than a
batch).
"""

from __future__ import annotations

import pytest

from rugo_spark import oracle_recompute as orc
from rugo_spark.ops import dedup as dd

_BASES = [
    "Le café près de la gare ferme à minuit, déjà trop tôt pour nous.",
    "東京の天気は晴れのち曇り、明日は雨が降るでしょう。傘を忘れずに。",
    "party time 🎉🎉 with friends 😀😃 and cake 🍰 until late tonight",
    "naïve façade résumé coöperate — déjà vu all over again, señor",
    "混合 text with 中文 and English words 🙂 side by side here",
]


def _docs():
    docs, i = [], 0
    for base in _BASES:
        # exact copies, one-character edits, and a truncation: near-dups
        # that collide in some bands but not all
        for text in (base, base, base[:-3] + "xyz", base[:-1], "X" + base[1:],
                     base[: len(base) // 2]):
            docs.append((i, text))
            i += 1
    # no shingles: fewer than 5 code points, though most are 5+ bytes
    for text in ("", "é", "日本語", "😀😃😄😁", "abcd"):
        docs.append((i, text))
        i += 1
    return docs


def _df(spark, docs):
    return spark.createDataFrame(docs, "doc_id long, text string")


def test_char_lsh_matches_sequential_oracle(spark):
    docs = _docs()
    got = sorted(
        (r["id_a"], r["id_b"], r["est_jaccard"])
        for r in dd.minhash_lsh_candidates(
            _df(spark, docs), n_hashes=16, n_bands=4, shingle=5
        ).collect()
    )
    want = sorted(
        (a, b, j) for a, b, _eq, j in orc.minhash_pairs(docs, 16, 4, 5)
    )
    assert got == want
    assert any(j < 1.0 for _a, _b, j in got)  # near-dups, not only copies


def test_char_verified_pairs_match_sequential_oracle(spark):
    docs = _docs()
    df = _df(spark, docs)
    cands = dd.minhash_lsh_candidates(df, n_hashes=16, n_bands=4, shingle=5)
    got = sorted(
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in dd.ngram_jaccard_pairs(
            df, shingle=5, threshold=0.5, prefilter=cands.select("id_a", "id_b")
        ).collect()
    )
    want = orc.lsh_verified_pairs(docs, 16, 4, 5, 64, 0.5)
    assert got == [(a, b, j) for a, b, j in want]
    assert any(j < 1.0 for _a, _b, j in got)


@pytest.mark.parametrize("batch_rows", [1, 2, 3])
def test_pair_kernel_streams_across_batches(spark, batch_rows):
    """Ten copies of one text share every band bucket: with cap 4 each is a
    star spanning several batches; three copies of another make small
    buckets that straddle batch boundaries.  Two copies banded once make
    one two-row bucket, open when its partition's batches end."""
    docs = [(i, "the very same document text, copied") for i in range(10)]
    docs += [(10 + i, "a second shorter copied text") for i in range(3)]
    docs += [(100 + d, t) for d, t in _docs()[:12]]
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, str(batch_rows))
    try:
        got = sorted(
            tuple(r)
            for r in dd.minhash_lsh_candidates(
                _df(spark, docs), n_hashes=16, n_bands=4, shingle=5, bucket_cap=4
            ).collect()
        )
        twins = _df(spark, [(0, "twin text body"), (1, "twin text body")])
        got_twins = [tuple(r) for r in dd.minhash_lsh_candidates(
            twins, n_hashes=16, n_bands=1, shingle=5, bucket_cap=4).collect()]
    finally:
        spark.conf.set(conf, prev)
    assert got_twins == [(0, 1, 1.0)]
    want = sorted(
        (a, b, j)
        for a, b, _eq, j in orc.minhash_pairs(docs, 16, 4, 5, bucket_cap=4)
    )
    assert got == want
    assert (0, 9, 1.0) in got and (1, 2, 1.0) not in got  # the star
    assert (10, 11, 1.0) in got and (11, 12, 1.0) in got  # all pairs


def test_shingle_gather_halves_oversized_batches(spark, monkeypatch):
    docs = _docs()
    want = sorted(tuple(r) for r in dd._shingled(
        _df(spark, docs), "text", "doc_id", 5, "char").collect())
    monkeypatch.setattr(dd, "_MAX_STRING_BYTES", 200)
    got = sorted(tuple(r) for r in dd._shingled(
        _df(spark, docs), "text", "doc_id", 5, "char").collect())
    assert got == want
