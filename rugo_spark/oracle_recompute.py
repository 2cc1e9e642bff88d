"""Independent per-row Python recomputation for oracle VALUES tables.

The driver's correctness gate wants a DuckDB-runnable SQL oracle per query.
Hash-family ops (simhash, minhash/LSH, rolling-hash fingerprint, fake media
features) aren't SQL-expressible, so their oracles are *differential*: this
module recomputes each result with deliberately different code — per-row
Python loops over the same parquet inputs, and a from-spec xxHash64 — and
``values_sql`` renders the expected table as a literal SQL VALUES clause.
A value-hash match then proves the distributed Spark path (vectorized
kernels, shuffles, window caps) agrees with a sequential reimplementation —
the same differential-oracle pattern the reference uses with PyArrow
(reference tests/test_statistics.py:68-94).

xxHash64 here is implemented from the public xxHash specification with
Spark's composition rules (seed 42, each argument hashed with the previous
result as seed) so the minhash pipeline is reproducible outside the JVM.
"""

from __future__ import annotations

import re

_M64 = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h


def xxh64_bytes(data: bytes, seed: int) -> int:
    """xxHash64 of a byte string (public spec, 32/8/4/1-byte phases)."""
    seed &= _M64
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed
        v4 = (seed - _P1) & _M64
        def _round(acc: int, k: int) -> int:
            return (_rotl((acc + k * _P2) & _M64, 31) * _P1) & _M64

        while i + 32 <= n:
            v1 = _round(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h ^= (_rotl((v * _P2) & _M64, 31) * _P1) & _M64
            h = (h * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        k = int.from_bytes(data[i : i + 8], "little")
        h ^= (_rotl((k * _P2) & _M64, 31) * _P1) & _M64
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        k = int.from_bytes(data[i : i + 4], "little")
        h ^= (k * _P1) & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        i += 1
    return _fmix(h)


def xxh64_long(v: int, seed: int) -> int:
    h = (seed + _P5 + 8) & _M64
    k = (_rotl(((v & _M64) * _P2) & _M64, 31) * _P1) & _M64
    h ^= k
    h = (_rotl(h, 27) * _P1 + _P4) & _M64
    return _fmix(h)


def xxh64_int(v: int, seed: int) -> int:
    h = (seed + _P5 + 4) & _M64
    h ^= ((v & 0xFFFFFFFF) * _P1) & _M64
    h = (_rotl(h, 23) * _P2 + _P3) & _M64
    return _fmix(h)


def _signed64(x: int) -> int:
    x &= _M64
    return x - (1 << 64) if x >= (1 << 63) else x


def spark_xxhash64(*args, seed: int = 42) -> int:
    """Spark's xxhash64(...) composition: fold args left-to-right, each
    hashed with the running result as seed.  str → UTF-8 bytes; int → the
    4-byte path if tagged ('i', v), else the 8-byte long path."""
    h = seed
    for a in args:
        if isinstance(a, tuple) and a[0] == "i":
            h = xxh64_int(a[1], h)
        elif isinstance(a, str):
            h = xxh64_bytes(a.encode("utf-8"), h)
        elif isinstance(a, (bytes, bytearray)):
            h = xxh64_bytes(bytes(a), h)
        elif isinstance(a, int):
            h = xxh64_long(a, h)
        else:
            raise TypeError(f"unsupported xxhash64 arg {type(a)}")
    return _signed64(h)


# --------------------------------------------------------------- text ops

_WS = re.compile(r"\s+", re.ASCII)  # Java regex \s is ASCII-only


def _words(text: str) -> list[str]:
    t = text.strip()
    return _WS.split(t) if t else [""]  # Spark split('') -> ['']


_FNV_OFFSET = 0xCBF29CE484222325
_FNV_PRIME = 0x100000001B3


def _fnv_word(w: bytes) -> int:
    """Mirror of ops/dedup._fnv1a: ALL bytes folded, then length mix."""
    h = _FNV_OFFSET
    for b in w:
        h = ((h ^ b) * _FNV_PRIME) & _M64
    return (h ^ ((len(w) * _FNV_PRIME) & _M64)) & _M64


_WORD_HASH_CACHE: dict[str, int] = {}


def _fnv_word_cached(w: str) -> int:
    h = _WORD_HASH_CACHE.get(w)
    if h is None:
        h = _WORD_HASH_CACHE[w] = _fnv_word(w.encode("utf-8"))
    return h


def simhash_row(text: str, bits: int = 64) -> int:
    hs = [_fnv_word_cached(w) for w in _words(text.lower())]
    fp = 0
    for b in range(bits):
        vote = sum(1 if (h >> b) & 1 else -1 for h in hs)
        if vote > 0:
            fp |= 1 << b
    return _signed64(fp)


def fingerprint_row(text: str, P: int = 1099511628211) -> int:
    data = text.encode("utf-8")
    out = 0
    for b in data:
        out = (out * P + b) & _M64
    return _signed64(out ^ ((len(data) * P) & _M64))


def shingles_row(text: str, n: int = 5, unit: str = "char") -> list[str]:
    """Distinct n-grams, first-occurrence order (ops/dedup._shingled).
    ``unit='char'`` slices code points, like Spark's ``substr``;
    ``unit='word'`` mirrors Spark's ``split(text, '\\s+')``
    with default limit=-1: leading/trailing empty strings are KEPT (Java
    Pattern.split with a negative limit), so ' a b ' has words
    ['', 'a', 'b', '']."""
    if unit == "word":
        words = _WS.split(text)
        if len(words) < n:
            return []
        seen: dict[str, None] = {}
        for i in range(len(words) - n + 1):
            seen.setdefault(" ".join(words[i : i + n]), None)
        return list(seen)
    if len(text) < n:
        return []
    seen = {}
    for i in range(len(text) - n + 1):
        seen.setdefault(text[i : i + n], None)
    return list(seen)


def minhash_pairs(
    docs: list[tuple[int, str]],
    n_hashes: int = 16,
    n_bands: int = 4,
    shingle: int = 5,
    bucket_cap: int = 64,
    unit: str = "char",
) -> list[tuple[int, int, int, float]]:
    """Sequential recompute of ops/dedup.minhash_lsh_candidates: returns
    (id_a, id_b, equal_hashes, est_jaccard) rows, pair-distinct."""
    rows_per_band = n_hashes // n_bands
    sigs: dict[int, list[int]] = {}
    buckets: dict[tuple[int, int], list[int]] = {}
    hcache: dict[str, list[int]] = {}  # shingles repeat heavily across docs

    def _sh_hashes(s: str) -> list[int]:
        h = hcache.get(s)
        if h is None:
            h = hcache[s] = [spark_xxhash64(s, ("i", j)) for j in range(n_hashes)]
        return h

    for doc_id, text in docs:
        sh = shingles_row(text, shingle, unit)
        hs = [_sh_hashes(s) for s in sh]
        sig = [min(h[j] for h in hs) if hs else None for j in range(n_hashes)]
        if sig[0] is None:
            continue  # empty shingle set: array_min(empty)=null, no bands emitted
        sigs[doc_id] = sig
        for b in range(n_bands):
            vals = sig[b * rows_per_band : (b + 1) * rows_per_band]
            key = _signed64(spark_xxhash64(*vals))
            buckets.setdefault((b, key), []).append(doc_id)
    pairs: set[tuple[int, int]] = set()
    for ids in buckets.values():
        ids = sorted(ids)
        if len(ids) <= bucket_cap:
            pairs.update((a, b) for i, a in enumerate(ids) for b in ids[i + 1 :])
        else:
            rep = ids[0]
            pairs.update((rep, b) for b in ids[1:])
    out = []
    for a, b in sorted(pairs):
        eq = sum(1 for x, y in zip(sigs[a], sigs[b]) if x == y)
        out.append((a, b, eq, eq / float(n_hashes)))
    return out


def lsh_verified_pairs(
    docs: list[tuple[int, str]],
    n_hashes: int = 16,
    n_bands: int = 4,
    shingle: int = 5,
    bucket_cap: int = 64,
    threshold: float = 0.5,
) -> list[tuple[int, int, float]]:
    """Sequential recompute of the LSH→exact-Jaccard verification pipeline:
    candidates from ``minhash_pairs``, exact Jaccard over distinct shingle
    sets, thresholded.  The double division of the same two ints matches
    Spark bit-for-bit."""
    sh = {d: set(shingles_row(t, shingle)) for d, t in docs}
    out = []
    for a, b, _eq, _j in minhash_pairs(docs, n_hashes, n_bands, shingle, bucket_cap):
        inter = len(sh[a] & sh[b])
        union = len(sh[a] | sh[b])
        jac = float(inter) / union if union else 0.0  # zero-union → 0.0 (both sides)
        if jac >= threshold:
            out.append((a, b, jac))
    return sorted(out)


_PIECES = re.compile(r"[a-z0-9]+|[^a-z0-9\s]", re.ASCII)


def tokenize_row(text: str, vocab: int = 50257) -> list[int]:
    """Sequential recompute of ops/tokenize.tokenize for one document."""
    out = []
    for p in _PIECES.findall(text.lower()):
        h = spark_xxhash64(p)
        out.append(((h % vocab) + vocab) % vocab)  # Spark pmod
    return out


def hash_sample_rows(
    rows: list[tuple[int, str]],
    fractions: dict[str, float],
    seed: int = 42,
    res: int = 1 << 20,
) -> list[tuple[int, str]]:
    """Sequential recompute of ops/sampling.hash_sample (stratified form):
    keep (key, stratum) where pmod(xxhash64(seed_i32, key), res) is under
    the stratum's threshold."""
    out = []
    for key, stratum in rows:
        h = spark_xxhash64(("i", seed), key)
        gate = ((h % res) + res) % res
        if gate < int(round(fractions.get(stratum, 0.0) * res)):
            out.append((key, stratum))
    return out


def contamination_rows(
    docs: list[tuple[int, str]], needle: list[int], vocab: int = 50257
) -> list[tuple[int, int, int]]:
    """Sequential recompute of ops/contamination.find_needle: naive O(n·k)
    subsequence scan over the sequentially re-tokenized docs —
    (doc_id, n_matches, first_pos) for docs containing the needle."""
    k = len(needle)
    out = []
    for doc_id, text in docs:
        toks = tokenize_row(text, vocab)
        cnt, first = 0, -1
        for p in range(len(toks) - k + 1):
            if toks[p : p + k] == list(needle):
                cnt += 1
                if first < 0:
                    first = p
        if cnt:
            out.append((doc_id, cnt, first))
    return out


def partition_id_rows(
    items: list[tuple[int, int]], num_partitions: int, clip: int = 1 << 20, res: int = 1 << 20
) -> dict[int, int]:
    """Sequential recompute of partitioning.with_partition_id (size-balanced
    cumulative-mass mapping): {key → partition_id}.  Mirrors the Spark float
    op order exactly (int sums → one division; frac·u then +cum)."""
    hist: dict[int, int] = {}
    for key, size in items:
        sz = min(size or 0, clip)
        hist[sz] = hist.get(sz, 0) + (size or 0)
    total = float(sum(hist.values())) or 1.0
    cum_at: dict[int, float] = {}
    frac_at: dict[int, float] = {}
    running = 0
    for sz in sorted(hist):
        cum_at[sz] = running / total
        frac_at[sz] = hist[sz] / total
        running += hist[sz]
    out: dict[int, int] = {}
    import math

    for key, size in items:
        sz = min(size or 0, clip)
        h = spark_xxhash64(key)
        u = float(((h % res) + res) % res) / float(res)
        pos = cum_at[sz] + frac_at[sz] * u
        out[key] = min(num_partitions - 1, int(math.floor(float(num_partitions) * pos)))
    return out


def pack_rows(
    docs: list[tuple[int, str]],
    seq_len: int,
    num_partitions: int,
    vocab: int = 50257,
    pad_id: int = 0,
    eos_id: int | None = None,
) -> list[tuple[int, int, int, int, int, int, int]]:
    """Sequential recompute of tokenize → ops/packing.pack_sequences:
    (partition_id, seq_idx, n_real, tok_sum, first_tok, last_tok, n_docs) —
    n_docs = documents STARTING inside the sequence (boundary count)."""
    toks = {d: tokenize_row(t, vocab) for d, t in docs}
    pids = partition_id_rows([(d, len(v)) for d, v in toks.items()], num_partitions)
    by_pid: dict[int, list[int]] = {}
    for d, _t in sorted(docs):
        by_pid.setdefault(pids[d], []).append(d)
    out = []
    for pid, ids in by_pid.items():
        flat: list[int] = []
        starts: list[int] = []
        for d in ids:  # ids already ascending (sorted docs)
            if toks[d] or eos_id is not None:
                starts.append(len(flat))
            flat.extend(toks[d])
            if eos_id is not None:
                flat.append(eos_id)
        if not flat:
            continue
        n_seq = (len(flat) + seq_len - 1) // seq_len
        padded = flat + [pad_id] * (n_seq * seq_len - len(flat))
        docs_in = [0] * n_seq
        for st in starts:
            docs_in[st // seq_len] += 1
        for s in range(n_seq):
            row = padded[s * seq_len : (s + 1) * seq_len]
            n_real = seq_len if s < n_seq - 1 else len(flat) - (n_seq - 1) * seq_len
            out.append((pid, s, n_real, sum(row), row[0], row[-1], docs_in[s]))
    return sorted(out)


def multimodal_features_rows(n: int = 256, dim: int = 64) -> list[tuple[str, int, int]]:
    """Per-row recompute of q_multimodal_features: (asset_id, feat_dim,
    feat_byte_sum).  Each feature is byte/255 in float32, so round(x*255)
    recovers the byte exactly — the checksum is integer-exact (no float
    accumulation-order sensitivity)."""
    import numpy as np

    rng = np.random.default_rng(np.random.SeedSequence([42, n]))
    sizes = rng.integers(128, 4096, n)  # same stream order as synth_media_df
    medias = [rng.integers(0, 256, s, dtype=np.uint8).tobytes() for s in sizes]
    out = []
    for i, payload in enumerate(medias):
        L = len(payload)
        total = sum(payload[(k * 131) % max(L, 1)] if L > 0 else 0 for k in range(dim))
        out.append((f"asset-{i:08d}", dim, total))
    return out


def dedup_cluster_rows(
    docs: list[tuple[int, str]],
    n_hashes: int = 16,
    n_bands: int = 4,
    shingle: int = 5,
    bucket_cap: int = 64,
) -> list[tuple[int, int, bool]]:
    """Sequential recompute of ops/dedup.dedup_clusters: union-find over the
    recomputed minhash pairs → (doc_id, cluster_id=min of component, is_kept)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != r:
            parent[x], x = r, parent[x]
        return r

    for a, b, _eq, _j in minhash_pairs(docs, n_hashes, n_bands, shingle, bucket_cap):
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min id so the root IS the cluster id
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    out = []
    for doc_id, _text in docs:
        cid = find(doc_id)
        out.append((doc_id, cid, doc_id == cid))
    return out


# --------------------------------------------------------------- embeddings

def _seq_dot(a, b) -> float:
    """Sequential left-to-right double fold — mirrors ops/similarity._dot
    (F.aggregate over zip_with), so results are bit-identical."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += float(x) * float(y)
    return acc


def _hyperplanes(dim: int, bits: int, seed: int = 42):
    import numpy as np

    rng = np.random.default_rng(np.random.SeedSequence([seed, dim, bits]))
    return rng.standard_normal((bits, dim))


def _bucket_row(vec, planes) -> int:
    key = 0
    for b in range(len(planes)):
        if _seq_dot(vec, [float(x) for x in planes[b]]) > 0:
            key |= 1 << b
    return key


def embedding_near_dup_pairs(
    embs: list[tuple[int, list[float]]],
    threshold: float,
    bits: int,
    bucket_cap: int = 256,
    seed: int = 42,
) -> list[tuple[int, int]]:
    """Sequential recompute of ops/similarity.embedding_near_dups (ids only)."""
    import math

    planes = _hyperplanes(len(embs[0][1]), bits, seed)
    by_id = dict(embs)
    buckets: dict[int, list[int]] = {}
    for vid, v in embs:
        buckets.setdefault(_bucket_row(v, planes), []).append(vid)
    out = []
    for ids in buckets.values():
        ids = sorted(ids)
        if len(ids) <= bucket_cap:
            cand = [(a, b) for i, a in enumerate(ids) for b in ids[i + 1 :]]
        else:
            cand = [(ids[0], b) for b in ids[1:]]
        for a, b in cand:
            va, vb = by_id[a], by_id[b]
            den = math.sqrt(_seq_dot(va, va)) * math.sqrt(_seq_dot(vb, vb))
            cos = _seq_dot(va, vb) / den if den else 0.0  # zero-norm → 0.0
            if cos >= threshold:
                out.append((a, b))
    return sorted(out)


def ann_topk_ids(
    embs: list[tuple[int, list[float]]],
    query: list[float],
    k: int,
    bits: int,
    seed: int = 42,
    multiprobe: bool = True,
    n_tables: int = 4,
) -> list[int]:
    """Sequential recompute of ops/similarity.ann_topk (ids only)."""
    import math

    import numpy as np

    qv = np.asarray(query, dtype=np.float64)
    cand: set[int] = set()
    for t in range(n_tables):
        planes = _hyperplanes(len(query), bits, seed + 1000 * t)
        qkey = 0
        for b in range(bits):
            if float(planes[b] @ qv) > 0:
                qkey |= 1 << b
        probe = {qkey} | ({qkey ^ (1 << b) for b in range(bits)} if multiprobe else set())
        for vid, v in embs:
            if _bucket_row(v, planes) in probe:
                cand.add(vid)
    qnorm = float(np.sqrt(np.dot(query, query))) or 1.0
    by_id = dict(embs)
    scored = []
    for vid in cand:
        v = by_id[vid]
        den = math.sqrt(_seq_dot(v, v)) * qnorm
        cos = _seq_dot(v, query) / den if den else 0.0  # zero-norm → 0.0
        scored.append((-cos, vid))
    scored.sort()
    return [vid for _, vid in scored[:k]]


def hybrid_topk_ids(
    embs: list[tuple[int, list[float]]],
    query: list[float],
    k: int,
    n_clusters: int = 32,
    n_probe: int = 2,
    bits: int = 8,
    n_tables: int = 4,
    sample_n: int = 512,
    seed: int = 42,
) -> list[int]:
    """Sequential recompute of ops/similarity.hybrid_ann_topk (ids only):
    IVF candidates (seeded sample → kmeans → probe clusters) UNION multi-
    table Hamming≤1 LSH candidates, exact cosine re-rank."""
    import math

    import numpy as np

    from rugo_spark.ops.similarity import ivf_assign_rows, kmeans_centroids

    ordered = sorted(embs, key=lambda t: (spark_xxhash64(int(seed), int(t[0])), t[0]))
    sample = np.asarray([v for _, v in ordered[:sample_n]], dtype=np.float64)
    C = kmeans_centroids(sample, n_clusters, seed=seed)
    qv = np.asarray(query, dtype=np.float64)
    qn = qv / (np.linalg.norm(qv) or 1.0)
    probe_clusters = {int(x) for x in np.argsort(-(C @ qn), kind="stable")[:n_probe]}
    X = np.asarray([v for _, v in embs], dtype=np.float64)
    assign = ivf_assign_rows(X, C)
    cand = {vid for (vid, _v), cl in zip(embs, assign) if int(cl) in probe_clusters}
    for t in range(n_tables):
        planes = _hyperplanes(len(query), bits, seed + 1000 * t)
        qkey = 0
        for b in range(bits):
            if float(planes[b] @ qv) > 0:
                qkey |= 1 << b
        probe = {qkey} | {qkey ^ (1 << b) for b in range(bits)}
        for vid, v in embs:
            if _bucket_row(v, planes) in probe:
                cand.add(vid)
    qnorm = float(np.sqrt(np.dot(query, query))) or 1.0
    by_id = dict(embs)
    scored = []
    for vid in cand:
        v = by_id[vid]
        den = math.sqrt(_seq_dot(v, v)) * qnorm
        cos = _seq_dot(v, query) / den if den else 0.0  # zero-norm → 0.0
        scored.append((-cos, vid))
    scored.sort()
    return [vid for _, vid in scored[:k]]


def resize_rows(
    n: int = 256, target_w: int = 16, target_h: int = 16
) -> list[tuple[str, int, int, int, int]]:
    """Per-row recompute of ops/multimodal.resize_media (fake path):
    (asset_id, width, height, crc32 of resized bytes, out_len)."""
    import zlib

    import numpy as np

    rng = np.random.default_rng(np.random.SeedSequence([42, n]))
    sizes = rng.integers(128, 4096, n)
    medias = [rng.integers(0, 256, s, dtype=np.uint8).tobytes() for s in sizes]
    n_out = target_w * target_h
    out = []
    for i, payload in enumerate(medias):
        L = len(payload)
        resized = bytes(payload[(k * max(L, 1)) // n_out] if L else 0 for k in range(n_out))
        out.append((f"asset-{i:08d}", target_w, target_h, zlib.crc32(resized), n_out))
    return out


def frame_sample_rows(n: int = 256, every_n: int = 10) -> list[tuple[str, int]]:
    """Per-row recompute of ops/multimodal.frame_sample_plan over the synth
    media table (same deterministic rng draw order as synth_media_df)."""
    import numpy as np

    rng = np.random.default_rng(np.random.SeedSequence([42, n]))
    kinds = np.array(["image/png", "audio/wav", "video/mp4"])
    sizes = rng.integers(128, 4096, n)
    for s in sizes:
        rng.integers(0, 256, s, dtype=np.uint8)  # media payload draws
    kind_idx = rng.integers(0, 3, n)
    rng.integers(16, 1920, n)  # width
    rng.integers(16, 1080, n)  # height
    n_frames = rng.integers(1, 300, n)
    out = []
    for i in range(n):
        if kinds[kind_idx[i]] == "video/mp4":
            for f in range(0, int(n_frames[i]), every_n):
                out.append((f"asset-{i:08d}", f))
    return out


def ivf_topk_ids(
    embs: list[tuple[int, list[float]]],
    query: list[float],
    k: int,
    n_clusters: int = 16,
    n_probe: int = 4,
    sample_n: int = 512,
    seed: int = 42,
) -> list[int]:
    """Sequential recompute of ops/similarity.ivf_topk (ids only): same
    deterministic kmeans + per-centroid gemv assignment, sequential cosine."""
    import math

    import numpy as np

    from rugo_spark.ops.similarity import ivf_assign_rows, kmeans_centroids

    # mirror ops/similarity._train_sample: rows ordered by
    # (xxhash64(seed, id), id), first sample_n — the seeded distributed draw
    ordered = sorted(embs, key=lambda t: (spark_xxhash64(int(seed), int(t[0])), t[0]))
    sample = np.asarray([v for _, v in ordered[:sample_n]], dtype=np.float64)
    C = kmeans_centroids(sample, n_clusters, seed=seed)
    qv = np.asarray(query, dtype=np.float64)
    qn = qv / (np.linalg.norm(qv) or 1.0)
    probe = {int(x) for x in np.argsort(-(C @ qn), kind="stable")[:n_probe]}
    X = np.asarray([v for _, v in embs], dtype=np.float64)
    assign = ivf_assign_rows(X, C)
    qnorm = float(np.sqrt(np.dot(query, query))) or 1.0
    scored = []
    for (vid, v), cl in zip(embs, assign):
        if int(cl) in probe:
            den = math.sqrt(_seq_dot(v, v)) * qnorm
            cos = _seq_dot(v, query) / den if den else 0.0  # zero-norm → 0.0
            scored.append((-cos, vid))
    scored.sort()
    return [vid for _, vid in scored[:k]]


# --------------------------------------------------------------- SQL render

def _sql_literal(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, float):
        # exponent form forces a DOUBLE literal: DuckDB parses bare decimal
        # literals as DECIMAL, which truncates the last ulp on re-cast
        # (repr is the shortest round-trip form, so 'e0' is exact)
        r = repr(v)
        return r if ("e" in r or "E" in r or "inf" in r or "nan" in r) else r + "e0"
    if isinstance(v, int):
        return str(v)
    return "'" + str(v).replace("'", "''") + "'"


def values_sql(rows: list[tuple], columns: list[tuple[str, str]]) -> str:
    """Render rows as ``SELECT CAST(...) ... FROM (VALUES ...)`` — a
    DuckDB-runnable literal oracle.  ``columns``: (name, duckdb_type)."""
    if not rows:
        sel = ", ".join(f"CAST(NULL AS {t}) AS {n}" for n, t in columns)
        return f"SELECT {sel} WHERE FALSE"
    body = ",\n".join("(" + ", ".join(_sql_literal(v) for v in r) + ")" for r in rows)
    cols = ", ".join(f"col{i}" for i in range(len(columns)))
    sel = ", ".join(f"CAST(col{i} AS {t}) AS {n}" for i, (n, t) in enumerate(columns))
    return f"SELECT {sel} FROM (VALUES\n{body}\n) AS t({cols})"
