"""Per-layer measurement for traced runs.

Work inside Spark tasks is attributed per operation from the status store
(``harness.StageProbe``).  Kernel layers (selector, codecs, block, bloom,
engine block I/O, ops.xxh) are replayed in the driver: their public
functions run on a seeded sample of block-sized tables taken from the
workload's own inputs, with spans recorded around every call the library
makes into them.  Driver-side layers (partitioning, manifest, deletes) are
timed by calling them directly.

Kernel times scale to an operation by the work it did (tokens or docs), and
the ledger of an operation lists those estimates plus the ``unattributed``
remainder of its Spark task time: the Arrow boundary, the framework and the
layers not replayed.
"""

from __future__ import annotations

import os
import struct
import time
from contextlib import contextmanager

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from perfbench.harness import median
from perfbench.metrics import CODECS, PER_LAYER, SPARK_FIELDS, SPARK_OPS

REPLAY_BLOCKS = 2  # block-sized sample tables per replay
REPLAY_REPEATS = 3  # each replay runs this often; per-layer times are medians


# ------------------------------------------------------------ span hooks

def _wrap(tracer, name: str, fn):
    def traced(*args, **kwargs):
        with tracer.span(name) as rec:
            out = fn(*args, **kwargs)
            if isinstance(out, (bytes, bytearray, memoryview)):
                rec["bytes"] = len(out)
            return out
    return traced


@contextmanager
def instrumented(tracer):
    """Record a span around every call the library makes into the selector,
    the codec registry, the outer zstd frame, block containers and bloom."""
    from rugo_spark import block, bloom, engine
    from rugo_spark.codecs import BYTES_CODECS, INT_CODECS, fsst, general

    patches = [
        (block, "select_int_codec", "selector.select_int_codec"),
        (block, "select_bytes_codec", "selector.select_bytes_codec"),
        (block, "encode_array", "block.encode_array"),
        (engine, "encode_array", "block.encode_array"),
        (block, "decode_array", "block.decode_array"),
        (engine, "decode_array", "block.decode_array"),
        (general, "wrap", "codecs.zstd.encode"),
        (general, "unwrap", "codecs.zstd.decode"),
        # the pinned-table path and the selector's trial call fsst directly
        (fsst, "encode", "codecs.fsst.encode"),
        (bloom, "build", "bloom.build"),
    ]
    saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in patches]
    registries = [(reg, dict(reg)) for reg in (INT_CODECS, BYTES_CODECS)]
    try:
        for (mod, attr, span), (_, _, orig) in zip(patches, saved):
            setattr(mod, attr, _wrap(tracer, span, orig))
        for reg, orig in registries:
            for name, (enc, dec) in orig.items():
                reg[name] = (_wrap(tracer, f"codecs.{name}.encode", enc),
                             _wrap(tracer, f"codecs.{name}.decode", dec))
        yield
    finally:
        for mod, attr, orig in saved:
            setattr(mod, attr, orig)
        for reg, orig in registries:
            reg.update(orig)


def kernel_totals(tracer, lo: int) -> dict:
    """Fold the spans recorded since index ``lo`` into per-layer self times
    and counts."""
    spans = tracer.spans
    own = tracer.self_times(lo)
    t = {"selector.select_s": 0.0, "selector.trials": 0, "selector.selections": 0,
         "codecs.zstd_s": 0.0, "block.encode_self_s": 0.0, "block.decode_self_s": 0.0,
         "bloom.build_s": 0.0, "engine.encode_block_row_s": 0.0,
         "engine.read_block_s": 0.0, "engine.read_block_filtered_s": 0.0}
    for c in CODECS:
        t[f"codecs.encode_s.{c}"] = 0.0
        t[f"codecs.decode_s.{c}"] = 0.0
        t[f"codecs.out_bytes.{c}"] = 0
    for k, s in enumerate(spans[lo:]):
        i = lo + k
        name, dur = s["name"], s["end"] - s["start"]
        in_selector = tracer.under(i, "selector.")
        if name.startswith("selector."):
            if not in_selector:
                t["selector.select_s"] += dur
                t["selector.selections"] += 1
        elif in_selector:
            # every candidate the selector tries ends in one zstd frame
            if name == "codecs.zstd.encode":
                t["selector.trials"] += 1
        elif name.startswith("codecs.zstd."):
            t["codecs.zstd_s"] += own[k]
        elif name.startswith("codecs."):
            _, codec, way = name.split(".")
            t[f"codecs.{way}_s.{codec}"] += own[k]
            if way == "encode":
                t[f"codecs.out_bytes.{codec}"] += s.get("bytes", 0)
        elif name == "block.encode_array":
            t["block.encode_self_s"] += own[k]
        elif name == "block.decode_array":
            t["block.decode_self_s"] += own[k]
        elif name == "bloom.build":
            t["bloom.build_s"] += dur
        elif name == "engine.encode_block_row":
            t["engine.encode_block_row_s"] += own[k]
        elif name == "engine.read_block_file":
            t["engine.read_block_s"] += own[k]
    return t


def _median_totals(runs: list[dict]) -> dict:
    return {k: (median([r[k] for r in runs]) if isinstance(runs[0][k], float) else runs[0][k])
            for k in runs[0]}


ENCODE_LAYERS = ("selector.select_s", "codecs.encode", "codecs.zstd_s", "block.encode_self_s",
                 "bloom.build_s", "engine.encode_block_row_s")
DECODE_LAYERS = ("codecs.decode", "codecs.zstd_s", "block.decode_self_s", "engine.read_block_s")


def _layer_sum(t: dict, key: str) -> float:
    if key in ("codecs.encode", "codecs.decode"):
        way = key.split(".")[1]
        return sum(t[f"codecs.{way}_s.{c}"] for c in CODECS)
    return float(t[key])


# ------------------------------------------------------------- replays

def sample_blocks(paths: list[str], seed: int) -> list[pa.Table]:
    """Seeded choice of REPLAY_BLOCKS input files, each read as one
    block-sized table."""
    rng = np.random.default_rng(seed)
    pick = rng.choice(len(paths), size=min(REPLAY_BLOCKS, len(paths)), replace=False)
    return [pq.read_table(paths[int(i)]) for i in sorted(pick)]


def encode_replay(run, tables: list[pa.Table], out_dir: str) -> tuple[dict, int, list[str]]:
    """Encode each sample table the way every writer does (engine.
    encode_block_row: sort, encode columns, write, bloom) under spans.
    Returns (median per-layer totals, sample tokens, block paths)."""
    from rugo_spark import engine

    os.makedirs(out_dir, exist_ok=True)
    tokens = sum(int(pc.sum(t["n_tok"]).as_py()) for t in tables)
    tr = run.tracer
    runs, paths = [], []
    for _ in range(REPLAY_REPEATS):
        lo = len(tr.spans)
        paths = []
        with instrumented(tr):
            for j, tbl in enumerate(tables):
                path = os.path.join(out_dir, f"part-{j:06d}.rgb")
                with tr.span("engine.encode_block_row"):
                    engine.encode_block_row(tbl, path, j, sort_key="doc_id", size_col="n_tok")
                paths.append(path)
        runs.append(kernel_totals(tr, lo))
    return _median_totals(runs), tokens, paths


def decode_replay(run, keys_by_path: dict[str, list[str]], schema: pa.Schema) -> dict:
    """Read each sample block whole under spans; then read it once per probe
    key it holds, with the key filter (stripe skipping), and report the
    filtered read as seconds per block read."""
    from rugo_spark import engine

    tr = run.tracer
    runs, filtered = [], []
    n_filtered = sum(len(k) for k in keys_by_path.values())
    for _ in range(REPLAY_REPEATS):
        lo = len(tr.spans)
        with instrumented(tr):
            for path in keys_by_path:
                with tr.span("engine.read_block_file"):
                    for _b in engine.read_block_file(path, schema):
                        pass
        runs.append(kernel_totals(tr, lo))
        t0 = time.perf_counter()
        for path, keys in keys_by_path.items():
            for key in keys:
                for _b in engine.read_block_file(path, schema, filters=[("doc_id", "=", key)]):
                    pass
        filtered.append((time.perf_counter() - t0) / max(1, n_filtered))
    t = _median_totals(runs)
    t["engine.read_block_filtered_s"] = median(filtered)
    return t


def decode_sample(run, out_dir: str, keys_per_block: int = 4) -> tuple[dict, int]:
    """decode_replay over a seeded sample of a dataset's blocks, probing
    seeded keys that each block holds.  Returns (totals, sample tokens)."""
    from rugo_spark import engine
    from rugo_spark import manifest as mf

    schema, _ = mf.read_schema(out_dir)
    paths = sorted(r["block_path"] for r in mf.visible_partitions(out_dir, cols=["block_path"]))
    rng = np.random.default_rng(run.seed)
    pick = [paths[int(i)] for i in sorted(rng.choice(len(paths), REPLAY_BLOCKS, replace=False))]
    keys_by_path, tokens = {}, 0
    for path in pick:
        tbl = pa.Table.from_batches(list(engine.read_block_file(path, schema,
                                                                columns=["doc_id", "n_tok"])))
        tokens += int(pc.sum(tbl["n_tok"]).as_py() or 0)
        ids = tbl["doc_id"].to_pylist()
        keys_by_path[path] = [ids[int(i)] for i in rng.choice(len(ids), keys_per_block)]
    return decode_replay(run, keys_by_path, schema), tokens


def arrow_roundtrip_s(run, path: str) -> float:
    """Task seconds an identity mapInArrow adds over a scan-only pass of
    the same parquet input (noop sink both times)."""
    spark = run.spark
    probe = run.stage_probe

    def task_s(build) -> float:
        vals = []
        for _ in range(REPLAY_REPEATS):
            gid = probe.begin("arrow")
            build(spark.read.parquet(path)).write.mode("overwrite").format("noop").save()
            vals.append(probe.collect(gid)["task_s"])
        return median(vals)

    scan = task_s(lambda df: df)
    ident = task_s(lambda df: df.mapInArrow(lambda it: it, df.schema))
    return ident - scan


def xxh_replay(bulk_path: str, seed: int, shingle: int) -> tuple[float, int]:
    """Median seconds of ops.xxh.xxh64_bytes_vec over every word shingle of
    a seeded sample of docs, and the number of docs in the sample."""
    from rugo_spark.ops.xxh import xxh64_bytes_vec

    files = sorted(f for f in os.listdir(bulk_path) if f.endswith(".parquet"))
    texts = sample_blocks([os.path.join(bulk_path, f) for f in files], seed)[0]["text"]
    buf = np.frombuffer("\n".join(texts.to_pylist()).encode(), dtype=np.uint8)
    # words are single-space separated inside a doc, docs by newline; a
    # shingle is the byte slice from a word's start to the end of the word
    # ``shingle - 1`` positions later within the same doc
    sep = (buf == 0x20) | (buf == 0x0A)
    starts = np.flatnonzero(~sep & np.concatenate(([True], sep[:-1])))
    ends = np.flatnonzero(~sep & np.concatenate((sep[1:], [True]))) + 1
    doc = np.cumsum(buf == 0x0A)[starts]
    ok = np.zeros(len(starts), dtype=bool)
    ok[: len(starts) - shingle + 1] = doc[shingle - 1:] == doc[: len(starts) - shingle + 1]
    sh_start = starts[ok]
    sh_len = ends[np.flatnonzero(ok) + shingle - 1] - sh_start
    times = []
    for _ in range(REPLAY_REPEATS):
        t0 = time.perf_counter()
        xxh64_bytes_vec(buf, sh_start, sh_len, 42)
        times.append(time.perf_counter() - t0)
    return median(times), len(texts)


def block_layout(paths: list[str]) -> tuple[int, float]:
    """(blocks, mean stripes per block) from the block file headers."""
    stripes = []
    for p in paths:
        with open(p, "rb") as f:
            magic, n = struct.unpack("<4sI", f.read(8))
        stripes.append(n if magic in (b"RGS1", b"RGS2") else 1)
    return len(paths), (sum(stripes) / len(stripes) if stripes else 0.0)


def bloom_useful_open_ratio(rows: list[dict], keys: list[str]) -> tuple[float, float]:
    """Blocks that hold a probe key / blocks that min/max plus might_contain
    would open for it, over all keys; and candidate blocks per key."""
    import json

    from rugo_spark import bloom

    stats = []
    for r in rows:
        m = json.loads(r["codecs"]).get("doc_id", {})
        stats.append((m.get("min"), m.get("max"), r.get("bloom")))
    opened = 0
    for key in keys:
        for lo, hi, bl in stats:
            if lo is not None and not (lo <= key <= hi):
                continue
            if bl is not None and not bloom.might_contain(bl, key):
                continue
            opened += 1
    # every probe key is in the table exactly once (checked by the lookups)
    return (len(keys) / opened if opened else 0.0), opened / max(len(keys), 1)


def timed_ms(fn, repeats: int = REPLAY_REPEATS):
    times, out = [], None
    for _ in range(repeats):
        t0 = time.perf_counter()
        out = fn()
        times.append(time.perf_counter() - t0)
    return median(times) * 1e3, out


# ---------------------------------------------------------- assembling

def spark_metrics(run) -> dict:
    """Median per-call Spark figures of every traced operation."""
    out = {}
    failed = 0
    for op in SPARK_OPS:
        calls = run.stage_metrics.get(op, [])
        failed += sum(c["failed_tasks"] for c in calls)
        for f, _, _ in SPARK_FIELDS:
            if f == "busy_ratio":
                vals = [c["task_s"] / (c["wall_s"] * run.cores) for c in calls if c["wall_s"] > 0]
            else:
                vals = [c[f] for c in calls]
            out[f"spark.{f}.{op}"] = median(vals) if vals else 0.0
    out["spark.failed_tasks"] = failed
    return out


def ledger(op_task_s: float, layers: dict[str, float]) -> dict:
    """Self-time estimates per layer plus the unattributed remainder; the
    parts sum to the op's Spark task time."""
    parts = {k: float(v) for k, v in layers.items()}
    parts["unattributed"] = op_task_s - sum(parts.values())
    return {"task_s": op_task_s, "parts": parts}


def encode_ledger_layers(t: dict, scale: float, arrow_s: float) -> dict:
    d = {k: _layer_sum(t, k) * scale for k in ENCODE_LAYERS}
    d["spark.arrow_roundtrip_s"] = arrow_s
    return d


def decode_ledger_layers(t: dict, scale: float) -> dict:
    return {k: _layer_sum(t, k) * scale for k in DECODE_LAYERS}


def finish(values: dict) -> dict:
    """Every per-layer metric, zero where this workload does not exercise
    the layer."""
    out = {}
    for name, _, _ in PER_LAYER:
        v = values.get(name, 0.0)
        out[name] = float(v) if v == v else 0.0  # NaN (no samples) reads as 0
    return out
