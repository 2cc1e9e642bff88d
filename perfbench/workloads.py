"""The perfbench workloads: four parts (ingest, scan, mutate, dedup) paired
into two workloads that share a session.  Each part builds its inputs from
the seed with the repository's own generators, warms every timed path once,
then runs closed-loop cycles (one client: the next call starts when the
previous one returned) and checks every output.

A part implements:
  prepare(run, k) build the starting state (set-up repeat k; 0 is small)
  warm(run)       one pass through every timed path, uncounted
  cycle(run, i)   one closed-loop cycle of timed operations
  report(run)     its end-to-end figures {name: (value, unit, n)}
  layers(run)     traced runs: (per-layer values, {op: ledger parts})
"""

from __future__ import annotations

import os
import shutil
import time
import zlib
from types import SimpleNamespace

import numpy as np

from perfbench import replay
from perfbench import settings as S
from perfbench.harness import median, tail_percentile


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


def write_tokens(spark, path: str, n_docs: int, seed: int, files: int) -> None:
    """Seeded token table (tokengen) as ``files`` parquet files."""
    from rugo_spark.tokengen import spark_token_df

    (spark_token_df(spark, n_docs, seed=seed, n_partitions=files)
     .repartition(files, "doc_id").write.mode("overwrite").parquet(_fresh(path)))


def write_docs(spark, path: str, n_docs: int, seed: int, mega_every=None) -> None:
    """Seeded document corpus (docgen) as parquet."""
    from rugo_spark.docgen import spark_doc_df

    (spark_doc_df(spark, n_docs, seed=seed, n_partitions=2 * S.CORES, mega_every=mega_every)
     .write.mode("overwrite").parquet(_fresh(path)))


def table_digest(df) -> dict:
    """Row count, token sum (n_tok) and an order-independent doc_id checksum."""
    import pyspark.sql.functions as F

    r = df.agg(F.count(F.lit(1)).alias("n"), F.sum("n_tok").alias("tok"),
               F.sum(F.crc32("doc_id")).alias("ck")).first()
    return {"n": int(r["n"]), "tok": int(r["tok"] or 0), "ck": int(r["ck"] or 0)}


def _link_copy(src: str, dst: str) -> None:
    """A new input identity with the same bytes: hard links (copies when the
    filesystem refuses), so no plan cache keyed on file identity can hit."""
    os.makedirs(_fresh(dst))
    for name in os.listdir(src):
        try:
            os.link(os.path.join(src, name), os.path.join(dst, name))
        except OSError:
            shutil.copy2(os.path.join(src, name), os.path.join(dst, name))


class Workload:
    name = ""
    ops: tuple = ()

    def __init__(self, run):
        self.spark = run.spark
        self.dir = os.path.join(run.work, self.name)
        os.makedirs(self.dir, exist_ok=True)

    def path(self, *parts) -> str:
        return os.path.join(self.dir, *parts)

    @staticmethod
    def docs(k: int, full: int) -> int:
        """Set-up repeat 0 is a small one that only warms the set-up code
        paths; the later repeats build full-size state."""
        return S.WARM_DOCS if k == 0 else full

    def layers(self, run) -> tuple[dict, dict]:
        """Traced runs: (per-layer values, {op: ledger}) measured after the
        timed window."""
        return {}, {}


# ------------------------------------------------------------------ ingest

class Ingest(Workload):
    """Three writers over fresh seeded token tables; encode-side heavy."""

    name = "ingest"
    ops = ("encode", "encode_precombine", "encode_maponly")

    def writers(self):
        from rugo_spark.engine import encode_table, encode_table_maponly

        kw = dict(key_col="doc_id", size_col="n_tok", target_tokens=S.TARGET_TOKENS)
        return [
            ("encode", "engine.encode_table", lambda df, out: encode_table(df, out, **kw)),
            ("encode_precombine", "engine.encode_table",
             lambda df, out: encode_table(df, out, precombine=True, **kw)),
            ("encode_maponly", "engine.encode_table_maponly",
             lambda df, out: encode_table_maponly(df, out, sort_key="doc_id", size_col="n_tok")),
        ]

    def prepare(self, run, k):
        """Each full set-up repeat adds one seeded table to the pool that
        cycles rotate over; the small repeat's table warms the writers."""
        if k == 0:
            self.pool = []
            self.n_inputs = 0
            self.stored: dict[str, tuple[int, int]] = {}
        src = self.path(f"pool{k}")
        write_tokens(self.spark, src, self.docs(k, S.INGEST_DOCS), seed=run.seed * 1000 + k,
                     files=S.INGEST_FILES)
        entry = (src, table_digest(self.spark.read.parquet(src)))
        if k == 0:
            self.warm_input = entry
        else:
            self.pool.append(entry)
        run.shared["token_table"] = src

    def encode_all(self, run, src: str, expect: dict, tag: str) -> None:
        """Each writer once, each on its own fresh copy of ``src``; then one
        job decodes every output back and checks it against the input."""
        from functools import reduce

        import pyspark.sql.functions as F

        from rugo_spark import manifest as mf
        from rugo_spark.engine import decode_table

        done = []
        for name, call, fn in self.writers():
            self.n_inputs += 1
            inp = self.path(f"in{self.n_inputs}")
            _link_copy(src, inp)
            df = self.spark.read.parquet(inp)
            out = _fresh(self.path(f"{tag}_{name}"))
            with run.op(name, call) as o:
                o.units = expect["tok"]
                fn(df, out)
            shutil.rmtree(inp, ignore_errors=True)
            if not o.failed:
                done.append((o, out))
        if not done:
            return
        outs = [decode_table(self.spark, out, columns=["doc_id", "n_tok"]).withColumn("w", F.lit(j))
                for j, (_, out) in enumerate(done)]
        rows = (reduce(lambda a, b: a.unionByName(b), outs).groupBy("w")
                .agg(F.count(F.lit(1)).alias("n"), F.sum("n_tok").alias("tok"),
                     F.sum(F.crc32("doc_id")).alias("ck")).collect())
        got = {r["w"]: {"n": r["n"], "tok": r["tok"], "ck": r["ck"]} for r in rows}
        for j, (o, out) in enumerate(done):
            o.check(got.get(j) == expect, f"decode-back {got.get(j)} != input {expect}")
            if o.name not in self.stored and run.record:  # first: seed-deterministic
                sc = mf.visible_partitions(out, cols=["input_bytes", "output_bytes"])
                self.stored[o.name] = (sum(int(r["output_bytes"]) for r in sc),
                                       sum(int(r["input_bytes"]) for r in sc))

    def warm(self, run):
        """Every writer and its check once, on the small table of the same
        shape (code paths, not data volume, are what is cold)."""
        self.encode_all(run, *self.warm_input, "warm")

    def cycle(self, run, i):
        src, expect = self.pool[i % len(self.pool)]
        self.encode_all(run, src, expect, "out")

    def layers(self, run):
        from rugo_spark import manifest as mf
        from rugo_spark.partitioning import release_after_plan, with_partition_id

        src, expect = self.pool[0]
        files = sorted(os.path.join(src, f) for f in os.listdir(src) if f.endswith(".parquet"))
        t, tok, _ = replay.encode_replay(run, replay.sample_blocks(files, run.seed),
                                         self.path("replay"))
        arrow = replay.arrow_roundtrip_s(run, src)
        plan_s = []
        for k in range(replay.REPLAY_REPEATS):
            inp = self.path(f"plan{k}")
            _link_copy(src, inp)
            df = self.spark.read.parquet(inp)
            t0 = time.perf_counter()
            planned = with_partition_id(df, None, size_col="n_tok", key_col="doc_id",
                                        target_mass=S.TARGET_TOKENS)[0]
            plan_s.append(time.perf_counter() - t0)
            release_after_plan(planned)
        mass = np.array([int(r["n_tokens"]) for r in
                         mf.visible_partitions(self.path("out_encode"), cols=["n_tokens"])])
        values = dict(t)
        values.update({
            "selector.useful_trial_ratio": t["selector.selections"] / max(1, t["selector.trials"]),
            "spark.arrow_roundtrip_s": arrow,
            "partitioning.plan_s": median(plan_s),
            "partitioning.mass_cv": float(mass.std() / mass.mean()) if len(mass) else 0.0,
        })
        layers = replay.encode_ledger_layers(t, expect["tok"] / tok, arrow)
        return values, {op: layers for op in self.ops}

    def report(self, run):
        out_b = sum(v[0] for v in self.stored.values())
        in_b = sum(v[1] for v in self.stored.values())
        rep = {}
        for op in self.ops:
            r = run.rates(op)
            rep[f"{op}_mtok_per_s"] = (median(r) / 1e6, "Mtok/s", len(r))
        rep["stored_bytes_per_input_byte"] = (out_b / in_b if in_b else float("nan"),
                                              "ratio", len(self.stored))
        return rep


# -------------------------------------------------------------------- scan

class Scan(Workload):
    """One table encoded in set-up and re-read every cycle (cache-warm):
    full decode, metadata_agg and seeded point lookups."""

    name = "scan"
    ops = ("decode", "metadata_agg", "lookup")
    N_KEYS = 256

    def prepare(self, run, k):
        import pyspark.sql.functions as F

        from rugo_spark.engine import encode_table

        src = self.path("input")
        n_docs = self.docs(k, S.SCAN_DOCS)
        write_tokens(self.spark, src, n_docs, seed=run.seed, files=S.INGEST_FILES)
        self.out = self.path("table")
        encode_table(self.spark.read.parquet(src), _fresh(self.out), key_col="doc_id",
                     size_col="n_tok", target_tokens=S.TARGET_TOKENS)
        # full-scan aggregate of the input: what decode must reproduce and
        # what metadata_agg must answer from the manifest alone
        r = self.spark.read.parquet(src).agg(
            F.count(F.lit(1)).alias("n"), F.sum(F.size("tokens")).alias("tok"),
            F.sum(F.crc32("doc_id")).alias("ck"), F.sum("n_tok").alias("n_tok"),
            F.min("doc_id").alias("min_doc_id"), F.max("doc_id").alias("max_doc_id"),
            F.min("n_tok").alias("min_n_tok"), F.max("n_tok").alias("max_n_tok"),
        ).first().asDict()
        self.full = r
        self.expect_decode = (r["n"], r["tok"], r["ck"])
        rng = np.random.default_rng(run.seed)
        ids = rng.choice(n_docs, size=min(self.N_KEYS, n_docs), replace=False)
        self.keys = [f"doc-{int(i):012d}" for i in ids]
        rows = (self.spark.read.parquet(src).filter(F.col("doc_id").isin(self.keys))
                .select("doc_id", "tokens", "n_tok", "source").collect())
        self.expect_rows = {row["doc_id"]: tuple(row) for row in rows}
        self.k = 0

    def decode(self, run):
        import pyspark.sql.functions as F

        from rugo_spark.engine import decode_table

        with run.op("decode", "engine.decode_table") as o:
            o.units = self.expect_decode[1]
            r = decode_table(self.spark, self.out).agg(
                F.count(F.lit(1)), F.sum(F.size("tokens")), F.sum(F.crc32("doc_id"))).first()
        if not o.failed:
            o.check(tuple(int(x) for x in r) == self.expect_decode,
                    f"full decode {tuple(r)} != {self.expect_decode}")

    def metadata(self, run):
        from rugo_spark.engine import metadata_agg

        with run.op("metadata_agg", "engine.metadata_agg") as o:
            r = metadata_agg(self.spark, self.out).first().asDict()
        if not o.failed:
            want = {"n_rows": self.full["n"], "n_tokens": self.full["n_tok"]}
            for c in ("doc_id", "n_tok"):
                for agg in ("min", "max"):
                    if f"{agg}_{c}" in r:
                        want[f"{agg}_{c}"] = self.full[f"{agg}_{c}"]
            got = {k: r.get(k) for k in want}
            o.check(got == want and "min_doc_id" in r, f"metadata_agg {got} != scan {want}")

    def lookup(self, run, key: str):
        from rugo_spark.engine import decode_table

        with run.op("lookup", "engine.decode_table") as o:
            o.units = 1
            rows = decode_table(self.spark, self.out, filters=[("doc_id", "=", key)]).collect()
        if not o.failed:
            got = [tuple(r) for r in rows]
            o.check(got == [self.expect_rows[key]], f"lookup {key} returned {len(got)} rows")

    def next_key(self) -> str:
        key = self.keys[self.k % len(self.keys)]
        self.k += 1
        return key

    def warm(self, run):
        self.decode(run)
        self.metadata(run)
        self.lookup(run, self.next_key())

    def cycle(self, run, i):
        self.decode(run)
        self.metadata(run)
        for _ in range(S.SCAN_LOOKUPS):
            self.lookup(run, self.next_key())

    def layers(self, run):
        from rugo_spark import manifest as mf

        t, tok = replay.decode_sample(run, self.out)
        vp_ms, rows = replay.timed_ms(lambda: mf.visible_partitions(self.out))
        sl_ms, log = replay.timed_ms(lambda: mf.snapshot_log(self.out))
        blocks, stripes = replay.block_layout([r["block_path"] for r in rows])
        useful, opened_per_key = replay.bloom_useful_open_ratio(rows, self.keys)
        values = dict(t)
        values.update({
            "engine.blocks": blocks, "engine.stripes_per_block": stripes,
            "bloom.useful_open_ratio": useful,
            "manifest.visible_partitions_ms": vp_ms, "manifest.snapshot_log_ms": sl_ms,
            "manifest.sidecars": len(rows), "manifest.snapshots": len(log),
        })
        return values, {
            "decode": replay.decode_ledger_layers(t, self.expect_decode[1] / tok),
            "lookup": {"engine.read_block_filtered_s":
                       opened_per_key * t["engine.read_block_filtered_s"]},
        }

    def report(self, run):
        dec = run.rates("decode")
        mag = [s * 1e3 for s in run.seconds("metadata_agg")]
        lk = [s * 1e3 for s in run.seconds("lookup")]
        tail = tail_percentile(lk, 90.0)
        rep = {
            "decode_mtok_per_s": (median(dec) / 1e6, "Mtok/s", len(dec)),
            "metadata_agg_ms": (median(mag), "ms", len(mag)),
            "lookup_p50_ms": (median(lk), "ms", len(lk)),
        }
        # p90 only when at least ten samples lie beyond it; otherwise the
        # highest percentile that does, under its own name
        if tail is None:
            rep["lookup_p90_ms"] = (None, "ms", len(lk))
        elif tail[0] == 90.0:
            rep["lookup_p90_ms"] = (tail[1], "ms", len(lk))
        else:
            rep["lookup_p90_ms"] = (None, "ms", len(lk))
            rep[f"lookup_p{tail[0]:g}_ms"] = (tail[1], "ms", len(lk))
        return rep


# ------------------------------------------------------------------ mutate

class Mutate(Workload):
    """Writes beside reads on one table: delete, masked decode, merge,
    update, then rollback to the pre-cycle snapshot."""

    name = "mutate"
    ops = ("delete", "masked_decode", "merge", "update", "rollback")

    def prepare(self, run, k):
        """Encode the token table the ingest part generated in this set-up
        repeat; the small repeat's table is the warm-up table."""
        import pyspark.sql.functions as F

        from rugo_spark.engine import encode_table

        src = run.shared["token_table"]
        out = self.path("small" if k == 0 else "table")
        inp = self.spark.read.parquet(src)
        encode_table(inp, _fresh(out), key_col="doc_id", size_col="n_tok",
                     target_tokens=S.TARGET_TOKENS)
        cols = inp.select("doc_id", "n_tok", F.size("tokens").alias("t")).toPandas()
        t = SimpleNamespace(
            src=src, out=out, n0=len(cols), n_tok=cols["n_tok"].to_numpy(),
            tokens=cols["t"].to_numpy(),
            bucket=np.array([zlib.crc32(d.encode()) % S.MERGE_BUCKETS for d in cols["doc_id"]]))
        if k == 0:
            self.small = t
            self.rng = np.random.default_rng(run.seed)
        else:
            self.table = t

    def plan(self, t):
        """Seeded cycle parameters: a narrow n_tok band to delete (~3% of
        rows) and one doc_id hash bucket to merge."""
        q = self.rng.uniform(0.05, 0.9)
        lo = int(np.quantile(t.n_tok, q))
        hi = max(lo + 1, int(np.quantile(t.n_tok, q + 0.03)))
        return lo, hi, int(self.rng.integers(0, S.MERGE_BUCKETS))

    def one_cycle(self, run, tag: str, t):
        import pyspark.sql.functions as F

        from rugo_spark import manifest as mf
        from rugo_spark.engine import decode_table, delete_where, merge_table, update_where

        lo, hi, b = self.plan(t)
        s0 = int(mf.snapshot_log(t.out)[-1]["id"])
        hit = (t.n_tok >= lo) & (t.n_tok < hi)
        with run.op("delete", "engine.delete_where") as o:
            r = delete_where(self.spark, t.out, [("n_tok", ">=", lo), ("n_tok", "<", hi)])
        if o.failed:
            return
        o.check(r["n_deleted"] == int(hit.sum()), f"deleted {r['n_deleted']} != {int(hit.sum())}")
        with run.op("masked_decode", "engine.decode_table") as o:
            o.units = int(t.tokens[~hit].sum())
            n, tok = decode_table(self.spark, t.out).agg(
                F.count(F.lit(1)), F.sum(F.size("tokens"))).first()
        if not o.failed:
            o.check(n == t.n0 - r["n_deleted"] and tok == o.units,
                    f"masked decode {n} rows != {t.n0} - {r['n_deleted']}")
        in_b = t.bucket == b
        src = (self.spark.read.parquet(t.src)
               .filter(F.crc32("doc_id") % S.MERGE_BUCKETS == b)
               .withColumn("source", F.lit(tag)))
        with run.op("merge", "engine.merge_table") as o:
            m = merge_table(src, t.out, key_col="doc_id")
        if not o.failed:
            want = int((in_b & ~hit).sum())
            o.check(m["n_replaced"] == want and m["n_appended"] == int(in_b.sum()),
                    f"merge replaced {m['n_replaced']} != {want}")
        with run.op("update", "engine.update_where") as o:
            u = update_where(self.spark, t.out, [("source", "=", tag)], {"n_tok": "n_tok + 1"})
        if not o.failed:
            o.check(u["n_updated"] == int(in_b.sum()), f"updated {u['n_updated']} != {int(in_b.sum())}")
        if run.tracing:
            self.probe_state(t.out)
        with run.op("rollback", "manifest.rollback_to_snapshot") as o:
            mf.rollback_to_snapshot(t.out, s0)
        n = decode_table(self.spark, t.out, columns=["doc_id"]).count()
        o.check(n == t.n0, f"rollback left {n} rows, pre-cycle snapshot had {t.n0}")

    def probe_state(self, out: str):
        """Manifest and delete-file state after the cycle's commits, read
        through the layers' own functions."""
        from rugo_spark import deletes as dl
        from rugo_spark import manifest as mf

        vp_ms, rows = replay.timed_ms(lambda: mf.visible_partitions(out))
        sl_ms, log = replay.timed_ms(lambda: mf.snapshot_log(out))
        names = dl.visible_delete_files(out)
        lm_ms, masks = replay.timed_ms(lambda: dl.load_masks(out, names))
        for k, v in {"manifest.visible_partitions_ms": vp_ms, "manifest.snapshot_log_ms": sl_ms,
                     "manifest.sidecars": len(rows), "manifest.snapshots": len(log),
                     "deletes.visible_files": len(names), "deletes.load_masks_ms": lm_ms,
                     "deletes.masked_rows": sum(len(m) for m in masks.values())}.items():
            self.state.setdefault(k, []).append(v)

    def layers(self, run):
        # decode kernels are replayed by the scan part; here the masked
        # decode, delete and merge ledgers are their whole task time
        values = {k: median(v) for k, v in self.state.items()}
        return values, {"masked_decode": {}, "delete": {}, "merge": {}}

    def warm(self, run):
        self.state: dict[str, list] = {}
        self.one_cycle(run, "warm", self.small)

    def cycle(self, run, i):
        self.one_cycle(run, f"m{i}", self.table)

    def report(self, run):
        dec = run.rates("masked_decode")
        return {
            "delete_commit_s": (median(run.seconds("delete")), "s", len(run.seconds("delete"))),
            "merge_commit_s": (median(run.seconds("merge")), "s", len(run.seconds("merge"))),
            "masked_decode_mtok_per_s": (median(dec) / 1e6, "Mtok/s", len(dec)),
        }


# ------------------------------------------------------------------- dedup

class Dedup(Workload):
    """dedup_clusters on the bulk docgen corpus and its mega-cluster twin."""

    name = "dedup"
    ops = ("dedup", "dedup_skew")

    def prepare(self, run, k):
        """Each full set-up repeat adds one corpus pair (bulk and skew twin)
        to the pool that cycles rotate over."""
        if k == 0:
            self.pool = []
        seed = run.seed * 1000 + k
        n_docs = self.docs(k, S.DEDUP_DOCS)
        bulk_path, skew_path = self.path(f"bulk{k}"), self.path(f"skew{k}")
        write_docs(self.spark, bulk_path, n_docs, seed)
        write_docs(self.spark, skew_path, n_docs, seed, S.DEDUP_MEGA_EVERY)
        # the generator's planted exact and near copies bound the dropped
        # share from above
        pair = {"n": n_docs, "bulk": self.spark.read.parquet(bulk_path),
                "skew": self.spark.read.parquet(skew_path), "bulk_path": bulk_path,
                "planted": planted_duplicates(n_docs, seed)}
        if k == 0:
            self.small = pair
        else:
            self.pool.append(pair)

    def clusters(self, run, name: str, idx: int, n_docs: int, df, check) -> None:
        import pyspark.sql.functions as F

        from rugo_spark.ops.dedup import dedup_clusters

        mega = (F.substring("doc_id", 3, 14).cast("long") % S.DEDUP_MEGA_EVERY) == 0
        with run.op(name, "ops.dedup.dedup_clusters") as o:
            o.units = n_docs
            r = dedup_clusters(df, **S.DEDUP_ARGS).agg(
                F.count(F.lit(1)).alias("n"),
                F.sum((~F.col("is_kept")).cast("long")).alias("dropped"),
                F.sum((F.col("is_kept") & mega).cast("long")).alias("mega_kept"),
            ).first()
        if not o.failed:
            o.check(r["n"] == n_docs, f"{r['n']} labelled docs != {n_docs}")
            check(o, r)
            self.dropped[(name, idx)] = int(r["dropped"])

    def cycle(self, run, i):
        idx = i % len(self.pool)
        self.run_pair(run, idx, self.pool[idx])

    def run_pair(self, run, idx, c):
        self.clusters(run, "dedup", idx, c["n"], c["bulk"], lambda o, r: o.check(
            0 < r["dropped"] <= c["planted"],
            f"bulk dropped {r['dropped']} docs, planted duplicates {c['planted']}"))
        self.clusters(run, "dedup_skew", idx, c["n"], c["skew"], lambda o, r: o.check(
            r["mega_kept"] == 1, f"mega-cluster kept {r['mega_kept']} copies, want 1"))

    def warm(self, run):
        self.dropped: dict[tuple[str, int], int] = {}  # (op, corpus pair) -> docs
        self.run_pair(run, -1, self.small)

    def layers(self, run):
        from rugo_spark.ops.dedup import minhash_lsh_candidates

        values, ledgers = {}, {}
        c = self.pool[0]
        for corpus, op, df in (("bulk", "dedup", c["bulk"]), ("skew", "dedup_skew", c["skew"])):
            times, pairs = [], 0
            for _ in range(2):
                gid = run.stage_probe.begin("lsh")
                t0 = time.perf_counter()
                pairs = minhash_lsh_candidates(df, **S.DEDUP_ARGS).count()
                times.append(time.perf_counter() - t0)
                run.stage_probe.collect(gid)
            lsh = median(times)
            values[f"ops.dedup.lsh_s.{corpus}"] = lsh
            values[f"ops.dedup.components_s.{corpus}"] = median(run.seconds(op)) - lsh
            values[f"ops.dedup.candidate_pairs.{corpus}"] = pairs
            values[f"ops.dedup.dropped_docs.{corpus}"] = self.dropped[(op, 0)]
        xxh_s, n = replay.xxh_replay(c["bulk_path"], run.seed, S.DEDUP_ARGS["shingle"])
        values["ops.xxh.hash_s"] = xxh_s
        for op in self.ops:
            ledgers[op] = {"ops.xxh.hash_s": xxh_s * S.DEDUP_DOCS / n}
        return values, ledgers

    def report(self, run):
        b, s = run.rates("dedup"), run.rates("dedup_skew")
        return {
            "dedup_docs_per_s": (median(b), "docs/s", len(b)),
            "dedup_skew_docs_per_s": (median(s), "docs/s", len(s)),
        }


def planted_duplicates(n_docs: int, seed: int) -> int:
    """Docs the generator plants as exact or near copies of an earlier doc
    (docgen: ids whose selector draw is >= 80, except doc 0)."""
    from rugo_spark import docgen

    ids = np.arange(n_docs, dtype=np.uint64)
    sel = (docgen._h(seed, ids) % np.uint64(100)).astype(np.int64)
    return int(((sel >= 80) & (ids > 0)).sum())


class Composite:
    """A workload made of parts that share one session: set-up, warm-up and
    every cycle run the parts in order."""

    def __init__(self, run, name: str, parts):
        self.name = name
        self.parts = [p(run) for p in parts]

    def prepare(self, run, k):
        for p in self.parts:
            p.prepare(run, k)

    def warm(self, run):
        for p in self.parts:
            p.warm(run)

    def cycle(self, run, i):
        for p in self.parts:
            p.cycle(run, i)

    def report(self, run) -> dict:
        out = {}
        for p in self.parts:
            out.update(p.report(run))
        return out

    def layers(self, run) -> tuple[dict, dict]:
        values, ledgers = {}, {}
        for p in self.parts:
            v, led = p.layers(run)
            values.update(v)
            ledgers.update(led)
        return values, ledgers


# Two workloads, not four: each run pays ~20 s of JVM start and cold code
# paths, and a full measurement (tens of runs per workload within an hour)
# leaves room for that only twice.  Each pairs a part that exercises a set
# of layers with one that bypasses them.
WORKLOADS = {
    "ingest_mutate": (Ingest, Mutate),  # encode writers + DML commits
    "scan_dedup": (Scan, Dedup),  # decode/lookup reads + dedup, no encode timed
}


def make(run, name: str) -> Composite:
    return Composite(run, name, WORKLOADS[name])
