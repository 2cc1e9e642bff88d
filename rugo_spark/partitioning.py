"""Explicit size-balanced partitioning: size histogram → cumulative-mass map.

The north rule requires skew handling to be explicit: long-sequence skew in
``n_tok`` means hash-partitioning by doc count alone yields partitions whose
*token mass* (the real encode cost) varies wildly.  Plan:

1. One bounded scan builds a histogram of the size column.  When the input
   is a many-file parquet table, the scan reads a deterministic 1-in-k file
   subset (sorted file list, every k-th file) — the size *distribution* is
   what the mapping needs, and a stratified subset estimates it at a fraction
   of the scan cost.  Any other input (or ``plan_scan="full"``) falls back to
   an exact full scan.
2. Every doc maps to a position in [0,1) cumulative-mass space:
   ``pos = cum_frac(size) + frac(size) * uniform_hash(key)`` and
   ``partition_id = floor(num_partitions * pos)``.  Light sizes *merge*
   into shared partitions, heavy sizes *split* across many — each final
   partition carries ≈ total_mass / num_partitions tokens (salting by the
   key hash defuses intra-size skew).  Rows whose size never appeared in a
   sampled histogram (rare by construction) hash uniformly across partitions
   via a left-join fallback, so nothing is ever dropped.
3. Fully deterministic in (input file list, key) → stable across re-runs →
   resumable.  ``encode_table`` additionally persists the realized map next
   to the manifest so a resume never re-plans at all.

The cumulative map itself is metadata-sized (one row per distinct clipped
size, ≤2²⁰).  Up to ``_DRIVER_MAP_LIMIT`` rows it is finished on the driver
(sort + exclusive cumsum in numpy — catalog-stats scale, one Spark job
total); above that, a distributed running-sum window + localCheckpoint keeps
the driver out of the loop.  Either way the map is broadcast-joined back, so
the single ``repartition(n, __rugo_pid)`` shuffle feeding the block writer
is the only data movement in the encode job.  Its explicit task count keeps
AQE's byte-targeted coalescer, which is blind to Python-side encode cost,
off that stage.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

_HASH_RES = 1 << 20

_SIZE_CLIP = 1 << 20  # histogram key cap (sequence lengths are far below this)

# histogram sizes up to this are finished driver-side (numpy cumsum beats
# three Spark jobs: window stage + localCheckpoint + total agg)
_DRIVER_MAP_LIMIT = 1 << 17

# subset planning kicks in only when there are enough files for a 1-in-k
# stratified sample to be both cheaper and representative
_MIN_FILES_FOR_SAMPLE = 64
_SAMPLE_ONE_IN = 8


def _sample_files(df: DataFrame) -> tuple[list[str], float] | None:
    """Deterministic 1-in-k parquet file subset for the planning scan.

    Returns (paths, mass_scale) or None when subset planning doesn't apply
    (non-file input, few files, non-parquet).  mass_scale extrapolates the
    subset's token mass to the full input (by file bytes when resolvable,
    else by file count)."""
    try:
        files = sorted(df.inputFiles())
    except Exception:  # non-file-based plans
        return None
    if len(files) < _MIN_FILES_FOR_SAMPLE or not all(f.endswith(".parquet") for f in files):
        return None
    subset = files[:: _SAMPLE_ONE_IN]

    def _local(p: str) -> str | None:
        if p.startswith("file:"):
            import urllib.parse

            return urllib.parse.urlparse(p).path
        return p if p.startswith("/") else None

    import os

    try:
        total_b = sum(os.path.getsize(_local(f)) for f in files)
        sub_b = sum(os.path.getsize(_local(f)) for f in subset)
        scale = total_b / sub_b if sub_b else float(len(files)) / len(subset)
    except (OSError, TypeError):
        scale = float(len(files)) / len(subset)
    return subset, scale


def with_partition_id(
    df: DataFrame,
    num_partitions: int | None = None,
    size_col: str | None = None,
    key_col: str | None = None,
    target_mass: int | None = None,
    plan_scan: str = "auto",
    plan_map: dict | None = None,
) -> tuple[DataFrame, int, int, dict | None]:
    """Add a deterministic ``partition_id`` column, size-balanced by ``size_col``.

    ``plan_scan``: 'auto' samples a deterministic file subset for the
    histogram when the input is a many-file parquet table, 'full' always
    scans everything.  ``plan_map`` replays a previously persisted plan
    (from ``encode_table``'s ``_plan.json``) — zero planning scan on resume.

    Returns (planned df, num_partitions, total_mass, plan_map) —
    total_mass is 0 when no size column is given; plan_map is the
    serializable realized plan (None for the no-size-col path and for the
    distributed-window path, whose map lives in a localCheckpoint).
    """
    spark = df.sparkSession
    key_expr = F.xxhash64(F.col(key_col)) if key_col else F.xxhash64(*df.columns)
    if size_col is None and plan_map is not None and plan_map.get("mode") != "hash":
        raise ValueError(
            "this dataset was planned with a size column (cumulative-mass map); "
            "resume must pass the same size_col — omitting it would reassign "
            "every row's partition id"
        )
    if size_col is None or (plan_map is not None and plan_map.get("mode") == "hash"):
        if plan_map is not None and plan_map.get("mode") == "hash":
            # replay: pmod(key, n) is only resume-stable if n is the SAME n —
            # it depends on defaultParallelism and row count, both of which
            # can change between runs, so the realized n must come from the
            # persisted plan, never be re-derived
            num_partitions = int(plan_map["num_partitions"])
        elif num_partitions is None:
            # avoid 1-row blocks on tiny tables: cap by a row-count target
            # count() here is an extra planning job, but a cheap one for the
            # common parquet case: the scan projects zero columns, so tasks
            # read footers/page headers, not data.  Callers on non-columnar
            # sources who care should pass num_partitions explicitly.
            n_rows = df.count()
            per_part = max(1, (target_mass or 1_000_000) // 256)  # ≈ rows/partition
            num_partitions = max(
                1,
                min(
                    spark.sparkContext.defaultParallelism,
                    (n_rows + per_part - 1) // per_part,
                ),
            )
        pid = F.pmod(key_expr, F.lit(num_partitions)).cast("int")
        plan_out = {"mode": "hash", "num_partitions": int(num_partitions), "total_mass": 0}
        return df.withColumn("__rugo_pid", pid), num_partitions, 0, plan_out

    if plan_map is not None:
        total = int(plan_map["total_mass"])
        # an explicitly passed num_partitions wins (same map, different
        # granularity); absent, replay the plan's own choice
        if num_partitions is None:
            num_partitions = int(plan_map["num_partitions"])
        map_df = _map_df_from_lists(spark, plan_map["sz"], plan_map["cum"], plan_map["frac"])
        planned = _join_map(df, map_df, size_col, key_expr, num_partitions)
        out = dict(plan_map, num_partitions=int(num_partitions))
        return planned, num_partitions, total, out

    size_key = F.least(F.coalesce(F.col(size_col).cast("long"), F.lit(0)), F.lit(_SIZE_CLIP))

    hist_src, scale = df, 1.0
    sampled = _sample_files(df) if plan_scan == "auto" else None
    if sampled is not None:
        paths, scale = sampled
        try:
            sub = spark.read.parquet(*paths)
            if size_col in sub.columns:
                hist_src = sub.select(size_col)
            else:
                scale = 1.0
        except Exception:
            scale = 1.0

    hist_df = hist_src.groupBy(size_key.alias("__rugo_sz")).agg(
        F.sum(F.coalesce(F.col(size_col).cast("long"), F.lit(0))).alias("__rugo_mass")
    )
    n_hist = None
    pdf = None
    try:
        pdf = hist_df.limit(_DRIVER_MAP_LIMIT + 1).toPandas()
        n_hist = len(pdf)
    except Exception:
        n_hist = _DRIVER_MAP_LIMIT + 1
    if n_hist == 0:
        # empty input (or everything filtered upstream): degrade to the
        # trivial hash plan instead of emitting mismatched plan arrays —
        # encoding an empty table is a clean no-op with a resumable plan
        num_partitions = int(num_partitions or 1)
        pid = F.pmod(key_expr, F.lit(num_partitions)).cast("int")
        plan_out = {"mode": "hash", "num_partitions": num_partitions, "total_mass": 0}
        return df.withColumn("__rugo_pid", pid), num_partitions, 0, plan_out
    if n_hist <= _DRIVER_MAP_LIMIT:
        # driver-side finish: the histogram is catalog-stats-sized metadata
        # (NOT row data) — numpy replaces three Spark jobs
        import numpy as np

        pdf = pdf.sort_values("__rugo_sz").reset_index(drop=True)
        mass = pdf["__rugo_mass"].to_numpy(dtype="int64")
        szs = pdf["__rugo_sz"].to_numpy(dtype="int64")
        cum_int = np.concatenate(([0], np.cumsum(mass)[:-1]))
        sample_total = float(mass.sum()) or 1.0
        total = int(sample_total * scale)
        if num_partitions is None:
            num_partitions = max(1, -(-total // (target_mass or total)))
        cums = (cum_int / sample_total).tolist()
        fracs = (mass / sample_total).tolist()
        plan_out = {
            "sz": [int(s) for s in szs],
            "cum": cums,
            "frac": fracs,
            "total_mass": total,
            "num_partitions": int(num_partitions),
            "sampled_scan": sampled is not None and scale != 1.0,
        }
        map_df = _map_df_from_lists(spark, plan_out["sz"], cums, fracs)
        planned = _join_map(df, map_df, size_col, key_expr, num_partitions)
        return planned, num_partitions, total, plan_out

    # huge histograms: distributed exclusive running sum (single-task window
    # over ≤2^20 metadata rows, executor-side), checkpointed so the planned
    # DataFrame can stay lazy indefinitely without re-scanning the input
    from pyspark.sql.window import Window

    w = Window.orderBy("__rugo_sz").rowsBetween(Window.unboundedPreceding, -1)
    base = hist_df.select(
        "__rugo_sz",
        "__rugo_mass",
        F.coalesce(F.sum("__rugo_mass").over(w), F.lit(0)).alias("__rugo_cum_int"),
    ).localCheckpoint(eager=True)
    sample_total = float(base.agg(F.sum("__rugo_mass")).first()[0] or 0) or 1.0
    total = int(sample_total * scale)
    if num_partitions is None:
        num_partitions = max(1, -(-total // (target_mass or total)))
    map_df = base.select(
        "__rugo_sz",
        (F.col("__rugo_cum_int") / F.lit(sample_total)).alias("__rugo_cum"),
        (F.col("__rugo_mass") / F.lit(sample_total)).alias("__rugo_frac"),
    )
    planned = _join_map(df, map_df, size_col, key_expr, num_partitions)
    return planned, num_partitions, total, None


def _map_df_from_lists(spark, szs, cums, fracs) -> DataFrame:
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "__rugo_sz": pd.array(szs, dtype="int64"),
            "__rugo_cum": pd.array(cums, dtype="float64"),
            "__rugo_frac": pd.array(fracs, dtype="float64"),
        }
    )
    return spark.createDataFrame(pdf)


def _join_map(df, map_df, size_col, key_expr, num_partitions) -> DataFrame:
    """Broadcast-join the cumulative-mass map; rows with sizes unseen by a
    sampled histogram fall back to uniform hash placement (left join keeps
    them; by construction they are rare, so balance is preserved)."""
    size_key = F.least(F.coalesce(F.col(size_col).cast("long"), F.lit(0)), F.lit(_SIZE_CLIP))
    u = F.pmod(key_expr, F.lit(_HASH_RES)).cast("double") / F.lit(float(_HASH_RES))
    # frac==0 buckets (zero-size/null rows) carry no mass, so the salt term
    # vanishes and ALL of them would collapse onto one partition — a
    # row-count/serialization hot spot on corpora with many empty docs.
    # Give them the same hash-uniform placement as unseen sizes: mass
    # balance is unaffected (they weigh nothing), row counts spread evenly.
    pos = F.coalesce(
        F.when(F.col("__rugo_frac") > 0, F.col("__rugo_cum") + F.col("__rugo_frac") * u),
        u,
    )
    pid = F.least(
        F.lit(num_partitions - 1), F.floor(F.lit(float(num_partitions)) * pos)
    ).cast("int")
    return (
        df.withColumn("__rugo_sz", size_key)
        .join(F.broadcast(map_df), "__rugo_sz", "left")
        .withColumn("__rugo_pid", pid)
        .drop("__rugo_sz", "__rugo_cum", "__rugo_frac")
    )


def release_after_plan(planned) -> None:
    """Kept for call-site compatibility: the cumulative map is either driver
    metadata or a tiny localCheckpoint — no persist lifecycle to release."""
    hist = getattr(planned, "_rugo_cached_hist", None)
    if hist is not None:  # pragma: no cover - legacy handle
        hist.unpersist()


# ------------------------------------------------------------- range layout
# Deterministic replacement for repartitionByRange: Spark's RangePartitioner
# seeds its reservoir sample from the RDD id, so two runs of the same query
# draw DIFFERENT range boundaries — fatal for resume (completed partition k
# would cover a different key range than the re-run's partition k, silently
# dropping/duplicating the difference).  Here the boundaries come from a
# seeded hash-uniform sample (stable across runs, clusters, and Spark
# versions) and rows route to their bucket through murmur3 pre-images, so
# the realized task id IS the bucket id on every run.


def murmur3_int32(v: int, seed: int = 42) -> int:
    """Murmur3_x86_32 of one int32 (the public MurmurHash3 finalization,
    the same algorithm Spark's HashPartitioning applies to int columns).
    Pinned against ``F.hash`` by tests/test_sorted_encode.py."""
    M = 0xFFFFFFFF
    k = (v & M) * 0xCC9E2D51 & M
    k = ((k << 15) | (k >> 17)) & M
    k = k * 0x1B873593 & M
    h = seed ^ k
    h = ((h << 13) | (h >> 19)) & M
    h = (h * 5 + 0xE6546B64) & M
    h ^= 4  # length in bytes
    h ^= h >> 16
    h = h * 0x85EBCA6B & M
    h ^= h >> 13
    h = h * 0xC2B2AE35 & M
    h ^= h >> 16
    return h - (1 << 32) if h >= (1 << 31) else h  # as signed int32


def hash_routes(n: int) -> list[int]:
    """For each bucket p in 0..n-1, a small int j with
    ``pmod(murmur3(j), n) == p`` — the routing pre-image that makes
    ``repartition(n, route_col)`` place bucket p in task p exactly,
    deterministically, with no sampling anywhere."""
    routes: dict[int, int] = {}
    j = 0
    while len(routes) < n:
        routes.setdefault(murmur3_int32(j) % n, j)
        j += 1
        if j > 1_000_000 * max(1, n):  # pragma: no cover - unreachable
            raise RuntimeError(f"no murmur3 pre-image found for some bucket of {n}")
    return [routes[p] for p in range(n)]


def range_boundaries(
    df: DataFrame, key_col: str, n: int, seed: int = 42, oversample: int = 128
) -> list:
    """n-1 deterministic range cut points from a seeded uniform sample.

    The sample is the ``min(n*oversample, 2^20)`` rows with the smallest
    ``xxhash64(seed, key)`` — a distributed top-k (TakeOrderedAndProject),
    no full sort, bounded driver collect; the same draw every run.  Python's
    str ordering (code points) agrees with Spark's default binary collation
    (UTF-8 byte order preserves code-point order), so sorting the sample
    here matches the executor-side ``key > boundary`` comparisons.
    """
    sample_n = min(max(n * oversample, 1024), 1 << 20)
    rows = (
        df.select(key_col)
        .filter(F.col(key_col).isNotNull())
        .orderBy(F.xxhash64(F.lit(int(seed)).cast("long"), F.col(key_col)), F.col(key_col))
        .limit(sample_n)
        .collect()
    )
    keys = sorted(r[0] for r in rows)
    if not keys:
        return []
    bounds = [keys[(len(keys) * k) // n] for k in range(1, n)]
    for b in bounds:
        if not isinstance(b, (str, int, float, bool)):
            raise TypeError(
                f"range-sorted encode supports string/numeric keys; got "
                f"{type(b).__name__} — cast {key_col} first (boundaries must "
                "round-trip through the JSON plan for resume)"
            )
    return bounds


def with_range_partition(df: DataFrame, key_col: str, n: int, boundaries: list) -> DataFrame:
    """Assign each row its range bucket and route it so task id == bucket id.

    ``pid = |{b in boundaries : key > b}|`` (nulls → bucket 0, matching
    repartitionByRange's nulls-first); the routing literal array maps pid to
    its murmur3 pre-image.  One shuffle, zero sampling.  The boundary filter
    is O(n) per row as a literal-array scan — fine to a few thousand
    buckets; beyond that a broadcast range join would be the shape."""
    barr = F.array(*[F.lit(b) for b in boundaries])
    pid = F.size(F.filter(barr, lambda b: F.col(key_col) > b))
    routes = hash_routes(n)
    route = F.element_at(F.array(*[F.lit(int(j)) for j in routes]), pid + 1)
    return (
        df.withColumn("__rugo_route", route.cast("int"))
        .repartition(n, "__rugo_route")
        .sortWithinPartitions(key_col)
        .drop("__rugo_route")
    )
