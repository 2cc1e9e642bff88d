"""Pins for the r6 vectorized minhash internals.

Three layers, each against an independent formulation:

1. ``ops/xxh.py``'s numpy xxHash64 kernels vs the sequential from-spec
   implementation in ``oracle_recompute`` (adversarial lengths crossing
   every 32/8/4/1-byte phase boundary, multiple seeds, unicode bytes).
2. The numpy string kernel vs Spark's own ``F.xxhash64`` (the bit-identity
   the LSH signature relies on: ``xxhash64(s, lit(j)) == xxh64_int(j,
   seed=xxh64_bytes(utf8(s), 42))``).
3. ``_minhash_bands`` (the Arrow kernel, char and word unit) vs the SQL
   higher-order-function formulation it replaced, kept here as the
   reference (shingle expressions + per-seed ``F.xxhash64`` signature +
   band explode), on texts with empty tokens, repeated shingles, multibyte
   UTF-8 (accents, CJK, emoji), null and too-short docs — and the
   single-task union-find vs the iterative label-propagation loop in
   ``connected_components``.
"""

from __future__ import annotations

import numpy as np
import pytest

import pyspark.sql.functions as F


def test_xxh64_vec_matches_from_spec_oracle():
    from rugo_spark.oracle_recompute import xxh64_bytes, xxh64_int, xxh64_long
    from rugo_spark.ops.xxh import (xxh64_bytes_vec, xxh64_int_const_vec,
                                    xxh64_long_vec)

    rng = np.random.default_rng(7)
    strs = [bytes(rng.integers(0, 256, L, dtype=np.uint8))
            for L in list(range(0, 70)) + [95, 96, 97, 127, 128, 129, 200, 1000]]
    strs += [b"", "héllo wörld ünïcode ø".encode()]
    data = np.frombuffer(b"".join(strs), dtype=np.uint8)
    lens = np.array([len(s) for s in strs], dtype=np.int64)
    starts = np.zeros(len(lens), np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    for seed in (42, 0, 2**63 + 5, 12345):
        got = xxh64_bytes_vec(data, starts, lens, seed)
        exp = np.array([xxh64_bytes(s, seed) for s in strs], dtype=np.uint64)
        assert np.array_equal(got, exp), seed

    seeds = xxh64_bytes_vec(data, starts, lens, 42)
    for j in (0, 1, 15):
        got = xxh64_int_const_vec(j, seeds)
        exp = np.array([xxh64_int(j, int(s)) for s in seeds], dtype=np.uint64)
        assert np.array_equal(got, exp), j

    vs = rng.integers(0, 2**64, len(seeds), dtype=np.uint64)
    got = xxh64_long_vec(vs, seeds)
    exp = np.array(
        [xxh64_long(int(v), int(s)) for v, s in zip(vs, seeds)], dtype=np.uint64
    )
    assert np.array_equal(got, exp)


def test_xxh64_vec_matches_spark_builtin(spark):
    from rugo_spark.ops.xxh import xxh64_bytes_vec, xxh64_int_const_vec

    texts = [
        "", " ", "a", "abc def", "x" * 31, "y" * 32, "z" * 33, "w" * 200,
        "héllo wörld", "tab\tsep", "très long mot " * 10,
    ]
    df = spark.createDataFrame([(t,) for t in texts], "s string")
    exp = [r[0] for r in df.select(F.xxhash64("s")).collect()]
    exp_seeded = [r[0] for r in df.select(F.xxhash64("s", F.lit(3))).collect()]
    bs = [t.encode() for t in texts]
    data = np.frombuffer(b"".join(bs), dtype=np.uint8)
    lens = np.array([len(b) for b in bs], dtype=np.int64)
    starts = np.zeros(len(lens), np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    got = xxh64_bytes_vec(data, starts, lens, 42).view(np.int64)
    assert got.tolist() == exp
    got3 = xxh64_int_const_vec(3, got.view(np.uint64)).view(np.int64)
    assert got3.tolist() == exp_seeded


_TRICKY_TEXTS = [
    (1, "plain three word shingles here ok"),
    (2, "two words"),                           # below word shingle length
    (3, ""),                                    # empty -> dropped
    (4, None),                                  # null text -> dropped
    (5, "  leading and   multiple   spaces"),   # split() empty-token semantics
    (6, "rep rep rep rep rep rep"),             # repeated shingles (distinct-min)
    (7, "münchen über straße café naïve"),  # unicode
    (8, "one two three"),                       # exactly one shingle
    (9, "tab\tand\nnewline separated words here"),
    (10, "a b c d e f g h i j k l m n o p q r s t u v w x y z"),
    (11, "日本語のテキストを分割する 東京 大阪 京都"),  # CJK, 3-byte code points
    (12, "emoji 😀😃😄😁 mixed 😀😃😄😁 text"),  # 4-byte code points
    (13, "é😀日"),                              # below char shingle length
    (14, "aé😀日b"),                            # exactly one char shingle
]


def _sql_shingles(unit: str, n: int):
    """The former SQL shingle builders: distinct char n-grams by code-point
    ``substr``, or distinct space-joined word n-grams of ``split(text)``."""
    if unit == "char":
        body = (f"if(length(text) < {n}, array(), transform(sequence(1,"
                f" length(text) - {n - 1}), i -> substr(text, i, {n})))")
    else:
        body = (f"if(size(_w) < {n}, array(), transform(sequence(1,"
                f" size(_w) - {n - 1}), i -> array_join(slice(_w, i, {n}), ' ')))")
    return F.array_distinct(F.expr(body))


def _sql_minhash_bands(df, unit, shingle, n_hashes, n_bands):
    """(doc_id, sig, band, band_key) the way the SQL path built them: one
    ``array_min(transform(_sh, s -> xxhash64(s, j)))`` per hash (the seed
    lambda comes from a one-parameter factory — a two-parameter lambda is
    the (element, index) form), then ``xxhash64`` over each band's slots."""
    words = df.withColumn("_w", F.split("text", r"\s+"))
    sh = (words.select("doc_id", _sql_shingles(unit, shingle).alias("_sh"))
          .filter(F.size("_sh") > 0))

    def seeded(j):
        return lambda s: F.xxhash64(s, F.lit(j))

    sig = sh.select("doc_id", F.array(*[
        F.array_min(F.transform("_sh", seeded(j))) for j in range(n_hashes)
    ]).alias("sig"))
    rpb = n_hashes // n_bands
    return sig.select(
        "doc_id", "sig",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(*[F.element_at("sig", b * rpb + r + 1) for r in range(rpb)]).alias("band_key"),
            ) for b in range(n_bands)
        ])).alias("bk"),
    ).select("doc_id", "sig", "bk.band", "bk.band_key")


@pytest.mark.parametrize("n_hashes,n_bands", [(16, 4), (8, 2)])
@pytest.mark.parametrize("unit,shingle", [("word", 3), ("char", 5)])
def test_minhash_kernel_matches_sql_formulation(spark, unit, shingle, n_hashes, n_bands):
    from rugo_spark.ops import dedup as dd

    df = spark.createDataFrame(_TRICKY_TEXTS, "doc_id long, text string")
    old = _sql_minhash_bands(df, unit, shingle, n_hashes, n_bands)
    new = dd._minhash_bands(df, "text", "doc_id", shingle, n_hashes, n_bands, unit)
    key = lambda r: (r["doc_id"], r["band"])
    old_rows = sorted([r.asDict() for r in old.collect()], key=key)
    new_rows = sorted([r.asDict() for r in new.collect()], key=key)
    assert old_rows == new_rows
    with_shingles = {
        "word": {1, 5, 6, 7, 8, 9, 10, 11, 12},
        "char": {1, 2, 5, 6, 7, 8, 9, 10, 11, 12, 14},
    }
    assert {r["doc_id"] for r in new_rows} == with_shingles[unit]
    shingles = {r["doc_id"]: r["_sh"] for r in
                dd._shingled(df, "text", "doc_id", shingle, unit).collect()}
    sql = {r["doc_id"]: r["_sh"] or [] for r in
           df.withColumn("_w", F.split("text", r"\s+"))
           .select("doc_id", _sql_shingles(unit, shingle).alias("_sh")).collect()}
    assert shingles == sql


def test_components_local_matches_iterative_loop(spark):
    from rugo_spark.ops.dedup import connected_components

    # chain + star + singleton-free isolated pair, with string AND int ids
    edges_int = [(1, 2), (2, 3), (3, 4), (10, 11), (12, 10), (20, 21)]
    for typ, rows in (
        ("long", edges_int),
        ("string", [(f"d-{a:03d}", f"d-{b:03d}") for a, b in edges_int]),
    ):
        df = spark.createDataFrame(rows, f"id_a {typ}, id_b {typ}")
        fast = connected_components(df).collect()
        slow = connected_components(df, local_edge_limit=0).collect()
        assert sorted(map(tuple, fast)) == sorted(map(tuple, slow))
        got = {r["v"]: r["cluster_id"] for r in fast}
        if typ == "long":
            assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10,
                           20: 20, 21: 20}
