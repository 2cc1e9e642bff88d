"""perfbench: end-to-end and per-layer benchmark of rugo_spark.

    python3 perfbench/run.py --workload {ingest_mutate,scan_dedup,all} \\
        --seed N --seconds S --trace {0,1}

Each workload runs in one driver process at local[N] as a closed loop with
one client.  The run prepares its seeded inputs (several times; the median
is ``setup_s``), warms every timed path once, then runs cycles of the
workload's operations for ``--seconds`` seconds, checking every output.

Output (stdout): a report line with the workload's named figures, then, as
the last line, ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end set (metrics.E2E); with
``--trace 1`` alternate cycles are traced and the metrics are the per-layer
set (metrics.PER_LAYER), and a JSON artifact with every span, count and
per-operation ledger is written under ``.perfbench_work/traces/``.
``--workload all`` runs each workload in its own process.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import settings as S  # noqa: E402
from perfbench.harness import RssSampler, Run, log, median, stop_session  # noqa: E402
from perfbench.metrics import E2E, PER_LAYER_UNITS  # noqa: E402

WORKLOAD_NAMES = ("ingest_mutate", "scan_dedup")


def _metric(value, unit):
    return {"value": value, "unit": unit}


def run_workload(name: str, seed: int, seconds: float, trace: bool) -> int:
    import importlib.util

    if importlib.util.find_spec("rugo_spark") is None or importlib.util.find_spec("pyspark") is None:
        log("rugo_spark or pyspark is not importable from the checkout; nothing to measure")
        return 2
    work_root = os.path.join(ROOT, S.WORK_DIR_NAME)
    work = os.path.join(work_root, f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    env = S.environment(ROOT, work)
    os.makedirs(env["TMPDIR"], exist_ok=True)
    os.environ.update(env)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable

    from perfbench import replay
    from perfbench.workloads import make
    from rugo_spark.session import get_spark

    sampler = RssSampler()
    sampler.start()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark(master=S.MASTER, app_name="perfbench",
                          shuffle_partitions=S.SHUFFLE_PARTITIONS)
        spark.sparkContext.setLogLevel("ERROR")
        start_s = time.perf_counter() - t0
        run = Run(spark, work, seed, S.CORES)
        wl = make(run, name)
        run.record = False
        prep = []
        for k in range(S.SETUP_REPEATS):
            t0 = time.perf_counter()
            wl.prepare(run, k)
            prep.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.warm(run)
        warm_s = time.perf_counter() - t0
        setup_s = start_s + prep[0] + warm_s + median(prep[1:])
        log(f"{name}: start {start_s:.2f}s, prepare {[round(p, 2) for p in prep]}, "
            f"warm {warm_s:.2f}s")

        _reference_s(spark)  # its own first call compiles its plan: not counted
        ref = [_reference_s(spark), _reference_s(spark)]
        run.record = True
        cycles: dict[bool, list[float]] = {False: [], True: []}
        deadline = time.perf_counter() + seconds
        i = 0
        while time.perf_counter() < deadline or i < S.MIN_CYCLES * (2 if trace else 1):
            run.tracing = trace and i % 2 == 1
            n_before = len(run.order)
            wl.cycle(run, i)
            cycles[run.tracing].append(sum(o.seconds for o in run.order[n_before:]))
            i += 1
        run.tracing = False
        ref += [_reference_s(spark), _reference_s(spark)]
        log(f"{name}: {i} cycles, attempted {run.attempted}, failed {run.failed}")

        report = wl.report(run)
        report["setup_s"] = (setup_s, "s", S.SETUP_REPEATS)
        report["cycle_s"] = (median(cycles[False]), "s", len(cycles[False]))
        report["reference_s"] = (median(ref), "s", len(ref))
        report["failed_op_ratio"] = (run.failed / max(1, run.attempted), "ratio", run.attempted)
        if trace:
            values, ledgers = wl.layers(run)
        t0 = time.perf_counter()
        stop_session(spark)
        spark = None
        sampler.stop()
        log(f"{name}: stopped in {time.perf_counter() - t0:.2f}s")
        report["peak_rss_mb"] = (sampler.peak_total / 2**20, "MB", 1)

        if not trace:
            vals = {"setup_s": setup_s, "cycle_ref_ratio": median(cycles[False]) / median(ref)}
            metrics = {n: _metric(vals[n], u) for n, u, _ in E2E}
        else:
            values.update(replay.spark_metrics(run))
            values.update({
                "session.start_s": start_s, "session.warm_s": warm_s,
                "process.peak_rss_mb": sampler.peak_total / 2**20,
                "process.jvm_peak_rss_mb": sampler.peak_jvm / 2**20,
                "process.worker_peak_rss_mb": sampler.peak_workers / 2**20,
                "trace_overhead": median(cycles[True]) / median(cycles[False]),
            })
            ledger = {}
            for op, parts in ledgers.items():
                entry = replay.ledger(values.get(f"spark.task_s.{op}", 0.0), parts)
                ledger[op] = entry
                values[f"ledger.unattributed_s.{op}"] = entry["parts"]["unattributed"]
            per_layer = replay.finish(values)
            metrics = {n: _metric(v, PER_LAYER_UNITS[n]) for n, v in per_layer.items()}
            _write_trace(work_root, name, seed, run, per_layer, ledger, cycles)
            print(json.dumps({"workload": name, "ledger": ledger}))
        print(json.dumps({
            "workload": name, "seed": seed, "trace": int(trace), "cycles": i,
            "settings": S.describe(),
            "report": {k: {"value": v, "unit": u, "n": n} for k, (v, u, n) in report.items()},
            "failures": run.failures[:20],
        }))
        print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                          "failed": run.failed, "metrics": metrics}), flush=True)
        return 0
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            stop_session(spark)
        if sampler.is_alive():
            sampler.stop()
        shutil.rmtree(work, ignore_errors=True)


def _reference_s(spark) -> float:
    """Wall seconds of a fixed Spark job that runs no rugo_spark code: a
    range through an identity mapInArrow and a grouped count.  Cycle times
    divided by it cancel the machine-speed drift between runs."""
    def ident(batches):
        yield from batches

    t0 = time.perf_counter()
    (spark.range(0, 400_000, numPartitions=2 * S.CORES).selectExpr("id", "id % 997 AS k")
     .mapInArrow(ident, "id long, k long").groupBy("k").count()
     .write.mode("overwrite").format("noop").save())
    return time.perf_counter() - t0


def _write_trace(work_root, name, seed, run, per_layer, ledger, cycles) -> None:
    out_dir = os.path.join(work_root, "traces")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{name}-seed{seed}.json")
    with open(path, "w") as f:
        json.dump({
            "workload": name, "seed": seed, "settings": S.describe(),
            "cycle_s": {"untraced": cycles[False], "traced": cycles[True]},
            "per_layer": per_layer, "ledger": ledger,
            "spark_calls": run.stage_metrics,
            "spans": run.tracer.spans,
        }, f)
    log(f"trace written to {os.path.relpath(path, ROOT)}")


def run_all(args) -> int:
    """Each workload in its own process; one report line each and a final
    line with every workload's metrics prefixed by its name."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOAD_NAMES:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed",
             str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            log(f"{name} exited with {proc.returncode}")
            return proc.returncode or 1
        for line in lines[:-1]:
            print(line)
        res = json.loads(lines[-1])
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            merged["metrics"][f"{name}.{k}"] = v
    print(json.dumps(merged))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", default="all", choices=(*WORKLOAD_NAMES, "all"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    return run_workload(args.workload, args.seed, args.seconds, bool(args.trace))


if __name__ == "__main__":
    sys.exit(main())
