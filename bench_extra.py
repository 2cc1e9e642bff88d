#!/usr/bin/env python
"""Extra benchmarks for the r06 optimization round (bench.py is FROZEN for
measurement, so per-stage isolation probes live here — guide §1.4).

Usage: python bench_extra.py <probe> [...]

Probes:
  dedup_stages    stage-by-stage noop-sink timings of the production dedup
                  stages (shingles, minhash bands, bucket pair kernel, full
                  LSH, components, clusters, two-stage verify) over the
                  cached 600k-doc bench corpus
  consolidate     cProfile of manifest.consolidate_manifest at 100k sidecars
  dml             sub-step timings of update_where / merge_table at bench scale

Each probe prints one JSON line per measurement.  Uses the same cached
corpora as bench.py (.scratch/bench) and the same session factory.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
SCRATCH = os.path.join(REPO, ".scratch", "bench")


def _session():
    from rugo_spark.session import get_spark

    s = get_spark(master=f"local[{CPUS}]", app_name="rugo_bench_extra",
                  shuffle_partitions=CPUS)
    s.range(10_000_000).repartition(CPUS).mapInArrow(lambda it: it, "id long").count()
    return s


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _timed(name, fn, n=2):
    times = []
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        times.append(round(time.perf_counter() - t0, 3))
    print(json.dumps({"probe": name, "runs": times, "min": min(times)}), flush=True)
    return min(times)


def dedup_stages():
    import pyspark.sql.functions as F

    from rugo_spark.ops import dedup as dd

    spark = _session()
    docs = spark.read.parquet(os.path.join(SCRATCH, "docs_v2_600000_f64.parquet"))
    n_hashes, n_bands, shingle, unit = 16, 4, 3, "word"

    spark.sparkContext.setJobDescription("dedup probe: scan only")
    _timed("scan_only", lambda: _noop(docs.select("doc_id", "text")))

    sh = dd._shingled(docs, "text", "doc_id", shingle, unit)
    spark.sparkContext.setJobDescription("dedup probe: shingles")
    _timed("shingles", lambda: _noop(sh))

    bands = dd._minhash_bands(docs, "text", "doc_id", shingle, n_hashes, n_bands, unit)
    spark.sparkContext.setJobDescription("dedup probe: minhash bands")
    _timed("minhash_bands", lambda: _noop(bands))

    pairs_raw = dd._bucket_pairs_kernel(bands, "doc_id", n_hashes, 64)
    spark.sparkContext.setJobDescription("dedup probe: bucket pair kernel")
    _timed("pair_kernel", lambda: _noop(pairs_raw))

    spark.sparkContext.setJobDescription("dedup probe: full LSH count")
    _timed("lsh_full", lambda: dd.minhash_lsh_candidates(
        docs, n_hashes=n_hashes, n_bands=n_bands, shingle=shingle, unit=unit).count())

    pairs = dd.minhash_lsh_candidates(
        docs, n_hashes=n_hashes, n_bands=n_bands, shingle=shingle, unit=unit)
    spark.sparkContext.setJobDescription("dedup probe: connected components")
    _timed("components_after_lsh", lambda: dd.connected_components(pairs).count(), n=1)

    spark.sparkContext.setJobDescription("dedup probe: full clusters")
    _timed("clusters_full", lambda: dd.dedup_clusters(
        docs, n_hashes=n_hashes, n_bands=n_bands, shingle=shingle, unit=unit)
        .filter(~F.col("is_kept")).count(), n=1)

    # two-stage verify: LSH prefilter -> exact jaccard
    spark.sparkContext.setJobDescription("dedup probe: two stage")
    _timed("two_stage_full", lambda: dd.ngram_jaccard_pairs(
        docs,
        prefilter=dd.minhash_lsh_candidates(
            docs, n_hashes=n_hashes, n_bands=n_bands, shingle=shingle, unit=unit
        ).select("id_a", "id_b"),
        threshold=0.5, shingle=shingle, unit=unit).count(), n=1)
    spark.stop()


def two_stage():
    """Isolated LSH→verify two-stage timing + verified-pair invariants (A/B
    harness for the verify-stage shingle checkpoint)."""
    import pyspark.sql.functions as F

    from rugo_spark.ops import dedup as dd

    spark = _session()
    docs = spark.read.parquet(os.path.join(SCRATCH, "docs_v2_600000_f64.parquet"))

    def _run():
        pairs = dd.ngram_jaccard_pairs(
            docs,
            prefilter=dd.minhash_lsh_candidates(
                docs, n_hashes=16, n_bands=4, shingle=3, unit="word"
            ).select("id_a", "id_b"),
            threshold=0.5, shingle=3, unit="word")
        row = pairs.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.crc32(F.concat_ws("|", "id_a", "id_b"))).alias("h"),
            F.sum(F.crc32(F.format_number("jaccard", 9))).alias("hj"),
        ).first()
        print(json.dumps({"verified_pairs": int(row["n"]),
                          "pair_crc_sum": int(row["h"]),
                          "jaccard_crc_sum": int(row["hj"])}), flush=True)

    spark.sparkContext.setJobDescription("two-stage probe")
    _timed("two_stage_full", _run, n=3)
    spark.stop()


def dedup_scale():
    """10× scale validation: the corpora bench.py would generate at sf1
    (6M docs bulk + skew) through the r6 LSH/pairs/components kernels.
    Proves the optimized path holds beyond the sf0.1 measurement scale
    (single-task components gate, exchange sizing, kernel memory)."""
    import pyspark.sql.functions as F

    from rugo_spark.docgen import spark_doc_df
    from rugo_spark.ops import dedup as dd

    spark = _session()
    n = 6_000_000
    for tag, mega in (("bulk", None), ("skew", 6)):
        src = os.path.join(SCRATCH, f"docs_scale_{n}_{tag}.parquet")
        if not os.path.exists(src):
            t0 = time.perf_counter()
            spark_doc_df(spark, n, n_partitions=CPUS * 2, mega_every=mega).repartition(
                256
            ).write.mode("overwrite").parquet(src)
            print(json.dumps({"probe": f"gen_{tag}", "s": round(time.perf_counter() - t0, 1)}),
                  flush=True)
        docs = spark.read.parquet(src)
        spark.sparkContext.setJobDescription(f"dedup scale 6M {tag}: lsh")
        state = {}

        def _lsh():
            state["pairs"] = dd.minhash_lsh_candidates(
                docs, n_hashes=16, n_bands=4, shingle=3, unit="word").count()

        _timed(f"lsh_6m_{tag}", _lsh, n=2)

        def _clusters():
            state["dropped"] = dd.dedup_clusters(
                docs, n_hashes=16, n_bands=4, shingle=3, unit="word"
            ).filter(~F.col("is_kept")).count()

        spark.sparkContext.setJobDescription(f"dedup scale 6M {tag}: clusters")
        _timed(f"clusters_6m_{tag}", _clusters, n=2)
        print(json.dumps({"probe": f"counts_6m_{tag}", **state}), flush=True)
    spark.stop()


def consolidate():
    import cProfile
    import pstats

    from rugo_spark import manifest as mf

    n_man = 100_000
    pristine = os.path.join(SCRATCH, f"manifest_pristine_{n_man}")
    man_work = os.path.join(SCRATCH, "manifest_work_extra")
    shutil.rmtree(man_work, ignore_errors=True)
    os.makedirs(os.path.join(man_work, mf.MANIFEST_DIR))
    shutil.copy(os.path.join(pristine, mf.SCHEMA_FILE),
                os.path.join(man_work, mf.SCHEMA_FILE))
    from concurrent.futures import ThreadPoolExecutor

    names = os.listdir(os.path.join(pristine, mf.MANIFEST_DIR))

    def _link(name):
        os.link(os.path.join(pristine, mf.MANIFEST_DIR, name),
                os.path.join(man_work, mf.MANIFEST_DIR, name))

    with ThreadPoolExecutor(max_workers=32) as ex:
        list(ex.map(_link, names))

    prof = cProfile.Profile()
    t0 = time.perf_counter()
    prof.enable()
    mf.consolidate_manifest(man_work)
    prof.disable()
    wall = time.perf_counter() - t0
    print(json.dumps({"probe": "consolidate_manifest", "wall_s": round(wall, 3)}),
          flush=True)
    stats = pstats.Stats(prof)
    stats.sort_stats("cumulative").print_stats(25)


def dml():
    import pyspark.sql.functions as F

    from rugo_spark import manifest as mf
    from rugo_spark.engine import (decode_table, delete_where, merge_table,
                                   update_where)

    spark = _session()
    src = os.path.join(SCRATCH, "tokens_sf0.1_600000_f256.parquet")
    out_hi = os.path.join(SCRATCH, "enc_c32")
    tok_df = spark.read.parquet(src)
    pre_snap = int(mf.snapshot_log(out_hi)[-1]["id"])
    del_thresh = int(tok_df.approxQuantile("n_tok", [0.1], 0.01)[0])

    _timed("update_commit", lambda: update_where(
        spark, out_hi, [("n_tok", ">", int(del_thresh * 9))],
        {"source": "'requeued'"}), n=1)
    mf.rollback_to_snapshot(out_hi, pre_snap)

    merge_src = tok_df.filter(F.abs(F.hash("doc_id")) % 100 == 0).withColumn(
        "source", F.lit("upserted"))
    _timed("merge_commit", lambda: merge_table(merge_src, out_hi, key_col="doc_id"),
           n=1)
    mf.rollback_to_snapshot(out_hi, pre_snap)
    spark.stop()


if __name__ == "__main__":
    for probe in sys.argv[1:] or ["dedup_stages"]:
        globals()[probe]()
