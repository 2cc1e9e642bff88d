"""Every metric name the benchmark emits, with unit and direction.

``E2E`` is what an untraced run prints on its last line (every workload
prints all of them); ``PER_LAYER`` is what a traced run prints there;
``REPORT`` are the per-workload figures printed on the line before it.
"""

from __future__ import annotations

# (name, unit, better)
E2E = [
    ("setup_s", "s", "lower"),  # session start + warm-up + median state preparation
    # median wall time of one closed-loop cycle of the workload's operations,
    # over the median wall time of a fixed reference Spark job run in the
    # same session: the ratio cancels machine-speed drift between runs,
    # which moved raw cycle_s by up to a quarter on a shared 4-core VM
    ("cycle_ref_ratio", "ratio", "lower"),
]

# the per-workload end-to-end figures: name -> (unit, better, workloads)
REPORT = {
    "setup_s": ("s", "lower", "all"),
    "cycle_s": ("s", "lower", "all"),
    "reference_s": ("s", "lower", "all"),
    "failed_op_ratio": ("ratio", "lower", "all"),
    "peak_rss_mb": ("MB", "lower", "all"),
    "encode_mtok_per_s": ("Mtok/s", "higher", "ingest"),
    "encode_precombine_mtok_per_s": ("Mtok/s", "higher", "ingest"),
    "encode_maponly_mtok_per_s": ("Mtok/s", "higher", "ingest"),
    "stored_bytes_per_input_byte": ("ratio", "lower", "ingest"),
    "decode_mtok_per_s": ("Mtok/s", "higher", "scan"),
    "metadata_agg_ms": ("ms", "lower", "scan"),
    "lookup_p50_ms": ("ms", "lower", "scan"),
    "lookup_p90_ms": ("ms", "lower", "scan"),
    "delete_commit_s": ("s", "lower", "mutate"),
    "merge_commit_s": ("s", "lower", "mutate"),
    "masked_decode_mtok_per_s": ("Mtok/s", "higher", "mutate"),
    "dedup_docs_per_s": ("docs/s", "higher", "dedup"),
    "dedup_skew_docs_per_s": ("docs/s", "higher", "dedup"),
}

SPARK_OPS = ("encode", "encode_precombine", "encode_maponly", "decode", "lookup",
             "delete", "merge", "masked_decode", "dedup", "dedup_skew")
SPARK_FIELDS = [("task_s", "s", "lower"), ("gc_s", "s", "lower"),
                ("shuffle_write_bytes", "bytes", "lower"), ("spill_bytes", "bytes", "lower"),
                ("busy_ratio", "ratio", "higher")]
# the registry in rugo_spark/codecs/__init__.py: six integer, two byte codecs
CODECS = ("plain", "bss", "for", "delta", "rle", "dict", "fsst", "raw")


def _per_layer() -> list[tuple[str, str, str]]:
    m = [
        ("session.start_s", "s", "lower"),
        ("session.warm_s", "s", "lower"),
        ("partitioning.plan_s", "s", "lower"),
        ("partitioning.mass_cv", "ratio", "lower"),
    ]
    for op in SPARK_OPS:
        m += [(f"spark.{f}.{op}", u, b) for f, u, b in SPARK_FIELDS]
    m += [
        ("spark.failed_tasks", "count", "lower"),
        ("spark.arrow_roundtrip_s", "s", "lower"),
        ("selector.select_s", "s", "lower"),
        ("selector.trials", "count", "lower"),
        ("selector.useful_trial_ratio", "ratio", "higher"),
    ]
    for c in CODECS:
        m += [(f"codecs.encode_s.{c}", "s", "lower"), (f"codecs.decode_s.{c}", "s", "lower"),
              (f"codecs.out_bytes.{c}", "bytes", "lower")]
    m += [
        ("codecs.zstd_s", "s", "lower"),
        ("block.encode_self_s", "s", "lower"),
        ("block.decode_self_s", "s", "lower"),
        ("bloom.build_s", "s", "lower"),
        ("bloom.useful_open_ratio", "ratio", "higher"),
        ("engine.encode_block_row_s", "s", "lower"),
        ("engine.read_block_s", "s", "lower"),
        ("engine.read_block_filtered_s", "s", "lower"),
        ("engine.blocks", "count", "lower"),
        ("engine.stripes_per_block", "count", "lower"),
        ("manifest.visible_partitions_ms", "ms", "lower"),
        ("manifest.snapshot_log_ms", "ms", "lower"),
        ("manifest.sidecars", "count", "lower"),
        ("manifest.snapshots", "count", "lower"),
        ("deletes.visible_files", "count", "lower"),
        ("deletes.load_masks_ms", "ms", "lower"),
        ("deletes.masked_rows", "count", "lower"),
    ]
    for corpus in ("bulk", "skew"):
        m += [(f"ops.dedup.lsh_s.{corpus}", "s", "lower"),
              (f"ops.dedup.components_s.{corpus}", "s", "lower"),
              (f"ops.dedup.candidate_pairs.{corpus}", "count", "lower"),
              (f"ops.dedup.dropped_docs.{corpus}", "count", "higher")]
    m += [
        ("ops.xxh.hash_s", "s", "lower"),
        # peak summed RSS of driver, JVM and Python workers; an end-to-end
        # figure by intent, kept per-layer because the JVM heap's growth made
        # it repeat only within about a quarter between runs
        ("process.peak_rss_mb", "MB", "lower"),
        ("process.jvm_peak_rss_mb", "MB", "lower"),
        ("process.worker_peak_rss_mb", "MB", "lower"),
        ("trace_overhead", "ratio", "lower"),
    ]
    m += [(f"ledger.unattributed_s.{op}", "s", "lower") for op in SPARK_OPS]
    return m


PER_LAYER = _per_layer()
PER_LAYER_UNITS = {n: u for n, u, _ in PER_LAYER}
