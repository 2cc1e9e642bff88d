"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

The plans are the standard shingle→minhash→band→bucket-join shape with
shuffles only on group/band keys.  Exact dedup, the Jaccard joins and the
large-graph components loop are Spark built-ins.  Per-document numeric work
runs in Arrow-vectorized numpy kernels (``mapInArrow``): one shingle layout
+ xxHash64 minhash/band kernel for both the char and the word unit, the
bucket pair emission, small-graph union-find and SimHash's ±1 bit votes.
The minhash kernel replaced per-element higher-order SQL expressions that
measured ~30× the raw hash cost (see ``_minhash_bands``).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct text, lowest id kept."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(F.min(id_col).alias("keep_" + id_col), F.count(F.lit(1)).alias("dup_count"))
    )


def _shingle_input(df: DataFrame, text_col: str, id_col: str, unit: str) -> DataFrame:
    """(id, _x) projection the shingle kernels read: the one place the
    shingle ``unit`` is interpreted.  'word' splits in Spark (``split(text,
    '\\s+')``, Java regex semantics, so corner cases such as leading empties
    and \\x0B cannot drift); 'char' passes the text through.  The kernels
    tell the units apart by the Arrow type: list<string> words or string
    text (see ``_shingle_slices``)."""
    if unit == "word":
        x = F.split(F.col(text_col), r"\s+")
    elif unit == "char":
        x = F.col(text_col)
    else:
        raise ValueError(f"shingle unit must be 'char' or 'word', got {unit!r}")
    return df.select(F.col(id_col), x.alias("_x"))


# Arrow string arrays (and Spark's reader of them) address bytes with int32
# offsets: one gathered batch of shingle strings must stay below this
_MAX_STRING_BYTES = (1 << 31) - 1


def _shingled(df: DataFrame, text_col: str, id_col: str, shingle: int, unit: str) -> DataFrame:
    """(id, _sh) projection: the doc's distinct n-grams of ``unit``
    ('char'|'word') in first-occurrence order.

    The kernel materializes the raw n-grams with one ragged byte gather of
    the ``_shingle_slices`` layout (r6: the word unit's former
    ``transform`` + ``array_join`` HOF construction was ~12 s per pass over
    600k docs); ``array_distinct`` stays JVM-side.  That is the same positional
    first-occurrence order as the former SQL builders, so the arrays are
    bit-identical to theirs whenever the doc has any shingle (shingle-less
    and null docs yield [] where the SQL form gave [] or NULL; every
    consumer treats both as "no shingles").  A batch whose shingle bytes
    would overflow int32 offsets (a ~43 KB mean char-5 doc at 10k rows per
    batch) is halved until each half fits.
    """
    import numpy as np
    import pyarrow as pa

    src = _shingle_input(df, text_col, id_col, unit)

    def gather(batch):
        n_sh, buf, sh_start, sh_len = _shingle_slices(batch.column(1), shingle)
        total = int(sh_len.sum())
        if total > _MAX_STRING_BYTES and batch.num_rows > 1:
            half = batch.num_rows // 2
            yield from gather(batch.slice(0, half))
            yield from gather(batch.slice(half))
            return
        dst_rel = np.zeros(len(sh_len) + 1, dtype=np.int64)
        np.cumsum(sh_len, out=dst_rel[1:])
        data = np.empty(total, dtype=np.uint8)
        if total:
            src_idx = np.repeat(sh_start - dst_rel[:-1], sh_len) + np.arange(
                total, dtype=np.int64
            )
            data = buf[src_idx]
        values = pa.StringArray.from_buffers(
            len(sh_len),
            pa.py_buffer(dst_rel.astype(np.int32).tobytes()),
            pa.py_buffer(data.tobytes()),
        )
        doc_offs = np.zeros(len(n_sh) + 1, dtype=np.int32)
        np.cumsum(n_sh, out=doc_offs[1:])
        sh_col = pa.ListArray.from_arrays(pa.array(doc_offs), values)
        yield pa.RecordBatch.from_arrays([batch.column(0), sh_col], names=[id_col, "_sh"])

    def kernel(batches):
        for batch in batches:
            yield from gather(batch)

    id_type = dict(df.dtypes)[id_col]
    raw = src.mapInArrow(kernel, f"{id_col} {id_type}, _sh array<string>")
    return raw.select(F.col(id_col), F.array_distinct("_sh").alias("_sh"))


def _shingle_slices(x, shingle: int):
    """Shared layout kernel for both shingle units: the (start, len) byte
    slice of every n-gram in one shared buffer, flat and doc-ordered.
    Returns ``(n_sh, buf, sh_start, sh_len)``: shingle count per doc (null
    → 0), the uint8 buffer, and the slices.  No shingle string is
    materialized, because every n-gram is a contiguous slice:

    * list<string> words (unit 'word'): ``buf`` is each doc's words joined
      by one space, and a word n-gram joined by ' ' is a slice of it;
    * string text (unit 'char'): ``buf`` is the docs' UTF-8 bytes, and a
      char n-gram runs from one code-point start to the n-th next.  Code
      points start at the bytes with ``b & 0xC0 != 0x80`` — the unit
      Spark's ``length``/``substr`` count in, so the n-grams equal the
      former ``substr(text, i, n)`` ones on emoji and CJK too.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(x, pa.ChunkedArray):
        x = x.combine_chunks()
    if not pa.types.is_list(x.type):
        lens, buf = _string_parts(pc.fill_null(x, ""))
        is_cp = (buf & 0xC0) != 0x80
        # cps[b] = code points starting before byte b; docs are contiguous
        cps = np.zeros(len(buf) + 1, dtype=np.int64)
        np.cumsum(is_cp, out=cps[1:])
        ends = np.cumsum(lens)
        first = cps[ends - lens]
        n_sh = np.maximum(cps[ends] - first - shingle + 1, 0)
        # bounds[c] = byte offset of code point c; the appended buffer end
        # (like the next doc's first code point) closes a doc's last n-gram
        bounds = np.append(np.flatnonzero(is_cp), len(buf))
        sh_first = np.zeros(len(n_sh), dtype=np.int64)
        np.cumsum(n_sh[:-1], out=sh_first[1:])
        c = np.repeat(first - sh_first, n_sh) + np.arange(int(n_sh.sum()))
        sh_start = bounds[c]
        return n_sh, buf, sh_start, bounds[c + shingle] - sh_start
    m = (
        pc.fill_null(pc.list_value_length(x), 0)
        .to_numpy(zero_copy_only=False)
        .astype(np.int64)
    )
    n_sh = np.maximum(m - shingle + 1, 0)
    flat = pc.list_flatten(x)
    if isinstance(flat, pa.ChunkedArray):
        flat = flat.combine_chunks()
    wl, wdata = _string_parts(flat)
    W = len(wl)
    # sentence layout: per-word start within its doc = running (len+1)
    # reset at each doc boundary
    gcum = np.zeros(W + 1, dtype=np.int64)
    np.cumsum(wl + 1, out=gcum[1:])
    first_w = np.zeros(len(m), dtype=np.int64)
    np.cumsum(m[:-1], out=first_w[1:])
    doc_rep = np.repeat(np.arange(len(m)), m)
    within = gcum[:-1] - gcum[first_w][doc_rep]
    sent_len = np.where(m > 0, gcum[first_w + m] - gcum[first_w] - 1, 0)
    sent_start = np.zeros(len(m) + 1, dtype=np.int64)
    np.cumsum(sent_len, out=sent_start[1:])
    word_dst = sent_start[doc_rep] + within
    # one ragged copy of all word bytes into the space-filled buffer
    buf = np.full(int(sent_start[-1]), np.uint8(0x20))
    src_rel = gcum[:-1] - np.arange(W)  # exclusive cumsum of wl
    total_b = int(src_rel[-1] + wl[-1]) if W else 0
    if total_b:
        dst_idx = np.repeat(word_dst - src_rel, wl) + np.arange(
            total_b, dtype=np.int64
        )
        buf[dst_idx] = wdata[:total_b]
    # shingle i of doc d = sentence bytes [start of word i, end of
    # word i+shingle-1)
    jw = np.arange(W, dtype=np.int64) - first_w[doc_rep]
    sh_start = word_dst[jw < n_sh[doc_rep]]
    sh_end = (word_dst + wl)[jw >= shingle - 1]
    return n_sh, buf, sh_start, sh_end - sh_start


def _minhash_bands(
    df: DataFrame, text_col: str, id_col: str, shingle: int,
    n_hashes: int, n_bands: int, unit: str,
) -> DataFrame:
    """(id, sig, band, band_key) rows via ONE vectorized Arrow kernel —
    bit-identical to the SQL formulation it replaces (``array_min(transform(
    _sh, s -> xxhash64(s, j)))`` per hash, then ``xxhash64`` over each
    band's slots; pinned by tests/test_xxh_vec.py and the driver oracle).
    Docs without a shingle get no rows: an empty shingle set has no min, so
    the SQL form's all-null signature would put every short doc in ONE
    band bucket and unrelated two-char docs would "cluster" (the sequential
    oracle, oracle_recompute.minhash_pairs, skips them for the same reason).

    Motivation (r6, guide §4.2): the 16 HOF expressions ran 18.4 s over
    600k docs and the shingle-string construction another 8 s — interpreted
    per-element evaluation, ~30× the raw hash cost.  This kernel exploits
    two algebraic facts: (a) Spark folds ``xxhash64(s, lit(j))`` as
    ``xxh64_int(j, seed=xxh64_bytes(utf8(s), 42))``, so the variable-length
    string hash is computed ONCE per shingle and each of the n_hashes seed
    variants is a few constant-folded vector ops; (b) every n-gram is a
    contiguous slice of one shared buffer (``_shingle_slices``), so no
    shingle string is ever materialized.  ``array_distinct`` is dropped
    because min() over a multiset equals min() over its set.  Measured: the
    word signature+bands stage 18.4 s → well under 2 s; full LSH 19.9 s →
    ~5 s at local[32]/600k docs.
    """
    import numpy as np
    import pyarrow as pa

    src = _shingle_input(df, text_col, id_col, unit)
    rows_per_band = n_hashes // n_bands

    def kernel(batches):
        from rugo_spark.ops.xxh import (xxh64_bytes_vec, xxh64_int_const_vec,
                                        xxh64_long_vec)

        for batch in batches:
            ids = batch.column(0)
            n_sh, buf, sh_start, sh_len = _shingle_slices(batch.column(1), shingle)
            keep = n_sh > 0
            if not keep.any():
                continue
            h0 = xxh64_bytes_vec(buf, sh_start, sh_len, 42)
            k = int(keep.sum())
            segs = np.zeros(k, dtype=np.int64)
            np.cumsum(n_sh[keep][:-1], out=segs[1:])
            sig = np.empty((k, n_hashes), dtype=np.int64)
            for j in range(n_hashes):
                hj = xxh64_int_const_vec(j, h0).view(np.int64)
                sig[:, j] = np.minimum.reduceat(hj, segs)
            bkeys = np.empty((k, n_bands), dtype=np.int64)
            for b in range(n_bands):
                acc = np.uint64(42)
                for r in range(rows_per_band):
                    acc = xxh64_long_vec(
                        sig[:, b * rows_per_band + r].view(np.uint64), acc
                    )
                bkeys[:, b] = acc.view(np.int64)
            # ONE row per doc (sig once, band keys as an array): emitting
            # the n_bands-exploded rows from Python would push sig across
            # the Arrow boundary n_bands times (~300 MB at 600k docs);
            # posexplode on the JVM side duplicates it after the transfer
            ids_out = ids.take(pa.array(np.flatnonzero(keep)))
            sig_col = pa.ListArray.from_arrays(
                pa.array(np.arange(k + 1, dtype=np.int32) * n_hashes),
                pa.array(sig.reshape(-1), type=pa.int64()),
            )
            keys_col = pa.ListArray.from_arrays(
                pa.array(np.arange(k + 1, dtype=np.int32) * n_bands),
                pa.array(bkeys.reshape(-1), type=pa.int64()),
            )
            yield pa.RecordBatch.from_arrays(
                [ids_out, sig_col, keys_col],
                names=[id_col, "sig", "band_keys"],
            )

    id_type = dict(df.dtypes)[id_col]
    per_doc = src.mapInArrow(
        kernel, f"{id_col} {id_type}, sig array<long>, band_keys array<long>"
    )
    return per_doc.select(
        id_col, "sig", F.posexplode("band_keys").alias("band", "band_key")
    ).withColumn("band", F.col("band").cast("int"))


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 32,
    n_bands: int = 8,
    shingle: int = 5,
    bucket_cap: int = 64,
    unit: str = "char",
) -> DataFrame:
    """Near-duplicate candidate pairs via banded MinHash LSH.

    Plan shape (scale-first): signature and band keys computed in one Arrow
    kernel (no shuffle) → explode to n_bands rows/doc → ONE shuffle on
    (band, band_key) → per-bucket pair emission → estimated Jaccard from
    full signatures.

    Pair emission is CAPPED: buckets of ≤ ``bucket_cap`` docs emit all pairs;
    larger buckets emit a star from the bucket's min-id representative —
    O(k) pairs instead of O(k²), which is the difference between finishing
    and not on boilerplate-heavy crawl data where a cluster of k identical
    docs (k in the millions) shares every band.  Connectivity for downstream
    union-find grouping is preserved (the star spans the bucket).
    """
    if n_hashes % n_bands != 0:
        raise ValueError(
            f"n_hashes ({n_hashes}) must be divisible by n_bands ({n_bands}): "
            "trailing signature slots would be computed but never banded, "
            "silently changing the (bands, rows) sensitivity curve"
        )
    bands = _minhash_bands(df, text_col, id_col, shingle, n_hashes, n_bands, unit)
    # Pair emission (r6 restructure, guide §2.4 — remove shuffles outright):
    # the former shape was window(_rn,_cnt) → localCheckpoint → two
    # self-joins (small buckets pairwise, big buckets star) → union →
    # distinct.  After a lazy checkpoint Catalyst forgets the window's
    # (band, band_key) partitioning, so each join side re-shuffled the full
    # 2.4M-row band table — five exchanges of ~400 MB end to end.  The same
    # pair set now comes from ONE exchange: repartition on (band, band_key),
    # sort within partitions, and a vectorized Arrow kernel that segments
    # buckets and emits small-bucket pairs / big-bucket stars directly
    # (equal_hashes counted on the signature matrix in numpy).  The skew
    # guarantee is unchanged: a k-member mega-bucket lands in one partition
    # as k ROWS (not k² join candidates) and emits k-1 star pairs.
    pairs = _bucket_pairs_kernel(bands, id_col, n_hashes, bucket_cap)
    pairs = pairs.distinct().withColumn(
        "est_jaccard", F.col("equal_hashes") / F.lit(float(n_hashes))
    )
    return pairs.select("id_a", "id_b", "est_jaccard")


def _bucket_pairs_kernel(
    bands: DataFrame, id_col: str, n_hashes: int, bucket_cap: int
) -> DataFrame:
    """(id_a, id_b, equal_hashes) from (id, sig, band, band_key) rows in one
    exchange + one Arrow kernel.  Rows of a bucket are co-partitioned by the
    hash repartition and adjacent after the in-partition sort; the kernel
    run-length-segments (band, band_key), emits all C(k,2) ordered pairs for
    buckets ≤ ``bucket_cap`` and a min-id star for larger ones — identical
    output to the former join formulation (id-sorted ⇒ id_a < id_b), with
    the bucket's internal work O(k) for stars and O(cap²) otherwise.

    The kernel streams its partition one Arrow batch at a time and carries
    over only the trailing bucket, which may continue in the next batch: at
    most ``bucket_cap`` rows, or — once the bucket has outgrown the cap and
    is known to be a star — only its min-id representative, the star pairs
    so far already emitted.  Memory per task is one batch plus the cap,
    whatever the partition's size.
    """
    import numpy as np
    import pyarrow as pa

    id_type = dict(bands.dtypes)[id_col]
    # explicit partition count: a column-only repartition is fair game for
    # AQE's byte-targeted coalescer, which squeezed this 2.4M-row exchange
    # to ~5 × 64 MB partitions and serialized the sort + Python kernel
    # (measured 2-5× slower end to end).  The count follows the session's
    # shuffle-partition knob — the scale-adaptive setting clusters tune —
    # never a local constant.
    spark = bands.sparkSession
    n_shuf = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    n_parts = max(n_shuf, spark.sparkContext.defaultParallelism)
    shaped = bands.repartition(n_parts, "band", "band_key").sortWithinPartitions(
        "band", "band_key", id_col
    )

    def pairs_fn(batches):
        tri_cache: dict = {}

        def emit(ids, sig, buckets):
            # buckets: (start row, size, is_star); a star pairs its first
            # (min-id) row with every other row
            a_parts, b_parts = [], []
            for s, k, is_star in buckets:
                if is_star:
                    a_parts.append(np.full(k - 1, s, dtype=np.int64))
                    b_parts.append(s + 1 + np.arange(k - 1, dtype=np.int64))
                else:
                    tri = tri_cache.get(k)
                    if tri is None:
                        tri = tri_cache[k] = np.triu_indices(k, 1)
                    a_parts.append(s + tri[0])
                    b_parts.append(s + tri[1])
            if not a_parts:
                return
            a_idx = np.concatenate(a_parts)
            b_idx = np.concatenate(b_parts)
            eq = (sig[a_idx] == sig[b_idx]).sum(axis=1).astype(np.int32)
            yield pa.RecordBatch.from_arrays(
                [
                    ids.take(pa.array(a_idx)),
                    ids.take(pa.array(b_idx)),
                    pa.array(eq),
                ],
                names=["id_a", "id_b", "equal_hashes"],
            )

        def ids_sig(b):
            sig = np.asarray(b.column("sig").flatten()).reshape(b.num_rows, n_hashes)
            return b.column(id_col), sig

        carry = None  # rows of the trailing open bucket
        star = False  # carry is a star's representative, pairs emitted
        for batch in batches:
            if carry is not None:
                batch = pa.Table.from_batches([carry, batch]).combine_chunks().to_batches()[0]
            n = batch.num_rows
            if n == 0:
                continue
            band = batch.column("band").to_numpy()
            key = batch.column("band_key").to_numpy()
            change = np.flatnonzero((np.diff(band) != 0) | (np.diff(key) != 0)) + 1
            starts = np.concatenate(([0], change))
            sizes = np.diff(np.append(starts, n))
            is_star = sizes > bucket_cap
            is_star[0] |= star
            closed = [
                (int(starts[i]), int(sizes[i]), bool(is_star[i]))
                for i in np.flatnonzero((sizes[:-1] >= 2) | is_star[:-1])
            ]
            # the last bucket stays open: a star emits its pairs so far and
            # keeps its representative, a small bucket keeps all its rows
            s, star = int(starts[-1]), bool(is_star[-1])
            if star:
                closed.append((s, n - s, True))
            yield from emit(*ids_sig(batch), closed)
            carry = batch.slice(s, 1 if star else n - s)
        if carry is not None and not star and carry.num_rows >= 2:
            yield from emit(*ids_sig(carry), [(0, carry.num_rows, False)])

    return shaped.mapInArrow(
        pairs_fn, f"id_a {id_type}, id_b {id_type}, equal_hashes int"
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle: int = 5,
    threshold: float = 0.0,
    prefilter=None,
    unit: str = "char",
) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs (verification stage).

    ``prefilter``: optional DataFrame of (id_a, id_b) candidates (e.g. LSH
    output) — without it, an exact all-pairs Jaccard via shingle inverted
    index (explode → self-join on shingle → count ∩ / union).
    """
    if prefilter is not None:
        # r6: (a) checkpoint the candidate pairs — the prefilter subtree
        # (usually the full LSH plan) would otherwise be re-evaluated for
        # every reference below; (b) shingle ONLY docs that appear in some
        # pair (left-semi prune) — pairs reference nothing else, so the
        # output is identical while the shingle construction (the dominant
        # verify-stage cost at 600k docs) touches ~1/3 of the corpus.
        prefilter = prefilter.localCheckpoint(eager=False)
        cand_ids = (
            prefilter.select(F.col("id_a").alias("_cid"))
            .unionByName(prefilter.select(F.col("id_b").alias("_cid")))
            .distinct()
        )
        pruned = df.join(
            cand_ids, F.col(id_col) == F.col("_cid"), "left_semi"
        )
        sh = _shingled(pruned, text_col, id_col, shingle, unit).withColumnRenamed("_sh", "sh")
        a = sh.alias("a")
        b = sh.alias("b")
        out = (
            prefilter.join(a, prefilter.id_a == F.col(f"a.{id_col}"))
            .join(b, prefilter.id_b == F.col(f"b.{id_col}"))
            .select(
                "id_a",
                "id_b",
                # zero-union guard: two sub-shingle-length docs in a caller's
                # candidate list define jaccard 0.0, not a DIVIDE_BY_ZERO
                # (ANSI mode) — mirrored in oracle_recompute.lsh_verified_pairs
                F.coalesce(
                    F.size(F.array_intersect("a.sh", "b.sh")).cast("double")
                    / F.nullif(F.size(F.array_union("a.sh", "b.sh")), F.lit(0)),
                    F.lit(0.0),
                ).alias("jaccard"),
            )
        )
    else:
        sh = _shingled(df, text_col, id_col, shingle, unit).withColumnRenamed("_sh", "sh")
        ex = sh.select(id_col, F.explode("sh").alias("g"))
        counts = sh.select(F.col(id_col), F.size("sh").alias("n_sh"))
        inter = (
            ex.alias("a")
            .join(ex.alias("b"), (F.col("a.g") == F.col("b.g")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
            .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("inter"))
        )
        out = (
            inter.join(counts.withColumnRenamed(id_col, "id_a").withColumnRenamed("n_sh", "na"), "id_a")
            .join(counts.withColumnRenamed(id_col, "id_b").withColumnRenamed("n_sh", "nb"), "id_b")
            .select(
                "id_a",
                "id_b",
                (F.col("inter").cast("double") / (F.col("na") + F.col("nb") - F.col("inter"))).alias("jaccard"),
            )
        )
    return out.filter(F.col("jaccard") >= threshold)


def connected_components(
    edges: DataFrame,
    left: str = "id_a",
    right: str = "id_b",
    max_iter: int = 20,
    local_edge_limit: int = 8_000_000,
) -> DataFrame:
    """Connected components over candidate-pair edges → (v, cluster_id).

    Pregel-style min-label propagation with pointer jumping: every vertex
    starts labelled with its own id; each round (a) takes the min label over
    neighbours, then (b) jumps through the label graph (lbl ← label[lbl]),
    which compresses paths and brings convergence to O(log diameter) rounds.
    Each round's result is ``localCheckpoint``ed — persisting alone is NOT
    enough for iterative plans: the logical plan doubles per round and
    Catalyst analysis time (and driver heap) blow up exponentially.  Each
    round is two equi-joins + a groupBy (shuffles on vertex id); at
    10^12-edge scale the same loop holds.

    Small edge sets (≤ ``local_edge_limit``, known exactly from the
    checkpointed symmetrized edges) skip the loop for a single-task
    union-find kernel — EXECUTOR-side, not a driver collect.  Labels are
    bit-identical (min id per component, the converged fixpoint of the
    loop).  Motivation (r6): each propagation round costs 3 fixed-overhead
    jobs over tiny shuffles — 11-12 s for 131k edges at local[32], pure
    scheduling tax (guide §1.2: fix the distributed algorithm first).  At
    the default limit the kernel holds ~2×8M ids in one task (~1 GB for
    string ids, far less for ints; stress-tested at 3M symmetrized string
    edges: 4.6 s end to end through Arrow dictionary-encode + C++ dict
    sort + reduceat sweeps); beyond it the loop's scaling story is
    unchanged.
    """
    sym = edges.select(F.col(left).alias("src"), F.col(right).alias("dst")).unionByName(
        edges.select(F.col(right).alias("src"), F.col(left).alias("dst"))
    )
    sym = sym.localCheckpoint(eager=True)
    if sym.count() <= local_edge_limit:
        return _components_local(sym)
    labels = (
        sym.select(F.col("src").alias("v"))
        .distinct()
        .withColumn("lbl", F.col("v"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        nbr = (
            sym.join(labels.withColumnRenamed("v", "_dv"), F.col("dst") == F.col("_dv"))
            .groupBy("src")
            .agg(F.min("lbl").alias("nbr_lbl"))
        )
        stage1 = labels.join(nbr, labels.v == nbr.src, "left").select(
            "v", F.least("lbl", F.coalesce("nbr_lbl", F.col("lbl"))).alias("lbl")
        )
        # materialize BEFORE the self-join: aliasing an un-checkpointed
        # stage1 as x and y executes the expensive sym-join + neighbor
        # aggregation twice per round (once per alias)
        stage1 = stage1.localCheckpoint(eager=True)
        # pointer jump: follow one hop through the label mapping
        x, y = stage1.alias("x"), stage1.alias("y")
        stage2 = x.join(y, F.col("x.lbl") == F.col("y.v"), "left").select(
            F.col("x.v").alias("v"),
            F.least(F.col("x.lbl"), F.coalesce(F.col("y.lbl"), F.col("x.lbl"))).alias("lbl"),
        )
        new_labels = stage2.localCheckpoint(eager=True)
        n_changed = (
            new_labels.withColumnRenamed("lbl", "_new")
            .join(labels, "v")
            .filter(F.col("_new") < F.col("lbl"))
            .count()
        )
        labels = new_labels
        if n_changed == 0:
            break
    else:
        # pointer jumping converges in O(log diameter) rounds, so hitting
        # max_iter means a pathological component — surface it rather than
        # silently returning split clusters.  warnings.warn (not print) so
        # logging/warning filters capture it; n_changed may be unset when
        # max_iter <= 0 (ADVICE r4).
        import warnings

        warnings.warn(
            f"rugo_spark.dedup.connected_components: label propagation did "
            f"not converge within max_iter={max_iter} rounds; "
            f"{n_changed if max_iter > 0 else 'all'} labels still changing — "
            "returned clusters may be split. Raise max_iter (each round is "
            "two joins + a groupBy).",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.withColumnRenamed("lbl", "cluster_id")


def _components_local(sym: DataFrame) -> DataFrame:
    """Single-task connected components over a (src, dst) symmetric edge
    DataFrame: min-label propagation + pointer jumping, fully vectorized in
    numpy inside ONE executor task (``coalesce(1)`` + ``mapInArrow`` — no
    driver collect).  Produces exactly the iterative loop's converged
    fixpoint: every vertex labelled with the minimum id of its component.
    String ids compare as Python code points == Spark's binary UTF-8
    collation, so min-labels agree across both paths."""
    import numpy as np
    import pyarrow as pa

    id_type = dict(sym.dtypes)["src"]

    def uf(batches):
        import pyarrow.compute as pc

        srcs, dsts = [], []
        for b in batches:
            srcs.append(b.column(0))
            dsts.append(b.column(1))
        if not srcs:
            return
        src_a = pa.chunked_array(srcs).combine_chunks()
        dst_a = pa.chunked_array(dsts).combine_chunks()
        n_half = len(src_a)
        comb = pa.concat_arrays([src_a, dst_a])
        # vertex ids ordered like Spark's binary string collation.  String
        # ids go through Arrow's C++ hash + sort (dictionary_encode +
        # sort_indices of the dictionary): np.unique on object arrays was
        # measured 15 s at 6M edge endpoints, the Arrow path ~1 s — and
        # Arrow's bytewise string order equals UTF-8 code-point order, the
        # same min the iterative loop computes.
        if pa.types.is_string(comb.type) or pa.types.is_large_string(comb.type):
            enc = comb.dictionary_encode()
            codes = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
            sort_idx = pc.sort_indices(enc.dictionary).to_numpy().astype(np.int64)
            rank = np.empty(len(sort_idx), dtype=np.int64)
            rank[sort_idx] = np.arange(len(sort_idx), dtype=np.int64)
            vids = rank[codes]
            sorted_vals = enc.dictionary.take(pa.array(sort_idx))
        else:
            arr = comb.to_numpy(zero_copy_only=False)
            uniq, vids = np.unique(arr, return_inverse=True)
            sorted_vals = pa.array(uniq)
        n = len(sorted_vals)
        ei, ej = vids[:n_half], vids[n_half:]
        # group edges by target ONCE; each sweep is then a gather +
        # segmented reduceat instead of np.minimum.at (ufunc.at measured
        # ~10× slower per sweep at millions of edges)
        order = np.argsort(ej, kind="stable")
        ei_s, ej_s = ei[order], ej[order]
        seg_starts = np.concatenate(
            ([0], np.flatnonzero(np.diff(ej_s)) + 1)
        ) if len(ej_s) else np.empty(0, dtype=np.int64)
        targets = ej_s[seg_starts] if len(ej_s) else ej_s
        lbl = np.arange(n, dtype=np.int64)
        while True:
            prev = lbl
            lbl = lbl.copy()
            # one neighbour-min sweep (edges are symmetric, so one direction
            # per sweep suffices for monotone convergence)...
            if len(ei_s):
                seg_min = np.minimum.reduceat(lbl[ei_s], seg_starts)
                lbl[targets] = np.minimum(lbl[targets], seg_min)
            # ...then jump pointers to a fixpoint (path compression)
            while True:
                nl = lbl[lbl]
                if np.array_equal(nl, lbl):
                    break
                lbl = nl
            if np.array_equal(lbl, prev):
                break
        labels = sorted_vals.take(pa.array(lbl))
        for s in range(0, n, 1 << 20):
            yield pa.RecordBatch.from_arrays(
                [sorted_vals.slice(s, 1 << 20), labels.slice(s, 1 << 20)],
                names=["v", "cluster_id"],
            )

    return sym.coalesce(1).mapInArrow(uf, f"v {id_type}, cluster_id {id_type}")


def dedup_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 16,
    n_bands: int = 4,
    shingle: int = 5,
    bucket_cap: int = 64,
    unit: str = "char",
) -> DataFrame:
    """Full near-dup grouping: minhash-LSH candidates → connected components
    → every doc labelled with its cluster's min id (`cluster_id`) and the
    keep/drop decision (`is_kept` = doc is the cluster representative).
    Docs with no candidate pair form singleton clusters."""
    pairs = minhash_lsh_candidates(
        df, text_col=text_col, id_col=id_col,
        n_hashes=n_hashes, n_bands=n_bands, shingle=shingle, bucket_cap=bucket_cap,
        unit=unit,
    )
    comps = connected_components(pairs)
    return (
        df.select(id_col)
        .join(comps, F.col(id_col) == comps.v, "left")
        .select(
            id_col,
            F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id"),
        )
        .withColumn("is_kept", F.col(id_col) == F.col("cluster_id"))
    )


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 64) -> DataFrame:
    """64-bit SimHash per document via an Arrow-vectorized numpy kernel.

    Word tokens are hashed with a deterministic FNV-1a (numpy uint64); each
    token votes ±1 per bit; the sign vector packs into one int64 fingerprint.
    No per-row Python: the kernel runs on the flattened token stream of the
    whole batch with offset segmentation (np.add.reduceat).
    """
    import numpy as np
    import pyarrow as pa

    words = df.select(
        F.col(id_col), F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("w")
    )

    def kernel(batches):
        for batch in batches:
            ids = batch.column(0)
            w = batch.column(1)
            if isinstance(w, pa.ChunkedArray):
                w = w.combine_chunks()
            import pyarrow.compute as pc

            # null text → null token list: treat as empty (simhash 0), like
            # contamination.find_needle (NaN→astype would yield INT64_MIN
            # garbage reduceat offsets)
            lengths = (
                pc.fill_null(pc.list_value_length(w), 0)
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            flat = pc.list_flatten(w)
            # FNV-1a over utf8 bytes, vectorized via cumulative per-char fold
            # on fixed-width prefix (first 16 bytes) — deterministic + fast
            lens, data = _string_parts(flat)
            h = _fnv1a(data, lens)
            # ±1 votes per bit, segmented by document
            starts = np.zeros(len(lengths), dtype=np.int64)
            np.cumsum(lengths[:-1], out=starts[1:])
            # clip: a TRAILING zero-length doc makes its start == len(vote),
            # which reduceat rejects (index out of bounds); the clipped
            # segment's garbage sum is masked by the lengths==0 zeroing
            # below, same as the mid-batch zero-length case
            starts_c = np.minimum(starts, max(len(h) - 1, 0))
            fp = np.zeros(len(lengths), dtype=np.uint64)
            for b in range(bits):
                vote = (((h >> np.uint64(b)) & np.uint64(1)).astype(np.int64) * 2 - 1)
                seg = np.add.reduceat(vote, starts_c) if len(vote) else np.zeros(len(lengths), np.int64)
                seg[lengths == 0] = 0
                fp |= (seg > 0).astype(np.uint64) << np.uint64(b)
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(fp.view(np.int64), type=pa.int64())],
                names=[id_col, "simhash"],
            )

    id_type = dict(df.dtypes)[id_col]
    return words.mapInArrow(kernel, f"{id_col} {id_type}, simhash long")


def _string_parts(arr):
    """Null-free string array → (lengths, data bytes) without python loops."""
    import numpy as np
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    bufs = arr.buffers()
    offsets = np.frombuffer(bufs[1], dtype=np.int32, count=len(arr) + 1, offset=arr.offset * 4).astype(np.int64)
    data = np.frombuffer(bufs[2], dtype=np.uint8) if bufs[2] is not None else np.empty(0, np.uint8)
    return np.diff(offsets), data[offsets[0] : offsets[-1]]


def _fnv1a(data, lens):
    """Vectorized FNV-1a hash per variable-length byte string — FULL length
    (no prefix cap: tokens identical in a long prefix still hash apart).

    Vectorization: rows sorted by length descending so byte position k
    touches a contiguous PREFIX of the sorted batch (the same trick as the
    fingerprint op) — total work is O(total_bytes) numpy gathers, and each
    token's hash depends only on its own bytes (batch-independent)."""
    import numpy as np

    n = len(lens)
    if n == 0:
        return np.empty(0, np.uint64)
    starts = np.zeros(n, dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    order = np.argsort(-lens, kind="stable")
    sl = lens[order]
    ss = starts[order]
    maxlen = int(sl[0]) if n else 0
    h_s = np.full(n, np.uint64(0xCBF29CE484222325))
    prime = np.uint64(0x100000001B3)
    # remaining[k] = rows with len > k = the sorted prefix active at byte k
    remaining = n - np.cumsum(np.bincount(sl, minlength=maxlen + 1))
    with np.errstate(over="ignore"):
        for k in range(maxlen):
            p = int(remaining[k])
            h_s[:p] = (h_s[:p] ^ data[ss[:p] + k]) * prime
        h = np.empty(n, dtype=np.uint64)
        h[order] = h_s
        return h ^ (lens.astype(np.uint64) * prime)
