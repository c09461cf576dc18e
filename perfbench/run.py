"""Ingest benchmark: one command, one workload, one JSON result line.

    python3 perfbench/run.py --workload catchup_merge --seed 1 --seconds 15 --trace 0

Runs from the root of a source checkout. It starts a local Spark session
on ``local[nproc/2]`` inside this one Python process, builds the workload's
fixture several times (the median is ``setup_s``), runs the timed loop,
checks every read and the final table against a last-write-wins model of
the generated records, and prints human-readable lines followed by one
JSON object as the last line of stdout. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` wraps the engine's entry points in spans
and reports the per-layer metrics of ``layers.json`` instead (spans go to
``.perfbench_out/``). Exits non-zero when any check fails. Everything the
run writes stays under the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_tmp" / str(os.getpid())
OUT = ROOT / ".perfbench_out"
SETUP_REPS = 3

E2E_UNITS = {
    "setup_s": "s",
    "ingest_records_per_s": "records/s",
    "batch_ms_p50": "ms",
    "batch_ms_tail": "ms",
    "freshness_ms_p50": "ms",
    "freshness_ms_tail": "ms",
    "write_amplification": "ratio",
    "live_files": "count",
}


def isolate_environment() -> None:
    """Keep every file Spark, the JVM and Python write inside WORK, and
    pin the settings results depend on."""
    for d in ("tmp", "spark-local", "warehouse"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_JVM_OPTS"] = (
        "-XX:-DontCompileHugeMethods -XX:ReservedCodeCacheSize=512m "
        f"-Djava.io.tmpdir={WORK / 'tmp'}"
    )
    for var in ("DUCKLAKE_STORAGE_BACKEND", "DUCKLAKE_MANIFEST_FORMAT"):
        os.environ.pop(var, None)
    import tempfile

    tempfile.tempdir = str(WORK / "tmp")
    sys.path.insert(0, str(ROOT))


def spark_threads(nproc: int) -> int:
    """Half the cores run Spark tasks; the rest are left to the JVM's JIT
    and GC threads and the Python driver. On a few shared cores, tasks on
    every core make each stage wait for whichever core the host preempts,
    so the timings measure the host rather than the program."""
    return max(1, nproc // 2)


def start_spark(threads: int):
    from ducklake_kafka_connect_spark.session import build_session

    return build_session(
        app_name="perfbench",
        master=f"local[{threads}]",
        shuffle_partitions=threads,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(WORK / "spark-local"),
            "spark.sql.warehouse.dir": str(WORK / "warehouse"),
            # the traced run reads job/stage info back from the tracker
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def tail(groups: list[list[float]]) -> tuple[float, float]:
    """The highest order statistic with samples of at least ten groups
    above it, and its percentile. A group is a set of samples that are not
    independent: the records one commit made visible share its return
    time. Where fewer than ten groups lie above the median (for
    single-sample groups: below 21 samples), the tail is the median."""
    ranked = sorted((v, g) for g, vs in enumerate(groups) for v in vs)
    n = len(ranked)
    above: set[int] = set()
    for i in range(n - 1, -1, -1):
        if len(above) >= 10:
            if i < n // 2:
                break
            return ranked[i][0], 100.0 * (i + 1) / n
        above.add(ranked[i][1])
    return statistics.median(v for v, _ in ranked), 50.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    isolate_environment()
    try:
        return run(args)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
        try:
            WORK.parent.rmdir()
        except OSError:
            pass


def run(args) -> int:
    import ducklake_kafka_connect_spark  # noqa: F401  (fail before Spark starts)
    import pyarrow
    import pyspark

    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    nproc = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    spark = start_spark(spark_threads(nproc))
    session_s = time.perf_counter() - t0
    try:
        wl = WORKLOADS[args.workload](spark, args.seed, args.seconds)
        t0 = time.perf_counter()
        wl.prepare()
        inputs_s = time.perf_counter() - t0
        reps_s = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.setup(str(WORK / f"lake{rep}"))
            reps_s.append(time.perf_counter() - t0)
        warm_s = wl.warm_up()
        setup_s = session_s + inputs_s + statistics.median(reps_s) + warm_s

        probe = None
        if args.trace:
            from layers import LayerProbe
            from tracing import Tracer

            wl.tracer = Tracer(spark)
            probe = LayerProbe(wl.tracer)
            probe.install()
            probe.start()
        wl.run()
        if probe is not None:
            probe.tracer.uninstall()
        wl.verify()
        env = {
            "master": spark.sparkContext.master,
            "defaultParallelism": spark.sparkContext.defaultParallelism,
            "nproc": nproc,
            "spark": pyspark.__version__,
            "python": platform.python_version(),
            "pyarrow": pyarrow.__version__,
            "backend": "posix",
            "manifest_format": "json",
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
        }
        print("env " + json.dumps(env))
        print(
            f"setup session_s={session_s:.3f} inputs_s={inputs_s:.3f} "
            f"reps_s={[round(x, 3) for x in reps_s]} "
            f"warmup_s={warm_s:.3f}"
        )
        if args.trace:
            values, missing = probe.finish(
                batches=len(wl.batch_ms),
                queries=len(wl.query_ms),
                rows_in=wl.records,
                window_s=wl.window_s,
                idle_s=wl.idle_s,
                dlq_rows=wl.window_dlq,
                warmup_ms=warm_s * 1e3,
                unit_ms=wl.batch_ms,
            )
            OUT.mkdir(exist_ok=True)
            wl.tracer.dump(str(OUT / f"spans-{args.workload}-{args.seed}.jsonl"))
            from layers import SPEC

            units = {m["name"]: m["unit"] for m in SPEC}
            layer_of = {m["name"]: m["layer"] for m in SPEC}
            for name in missing:
                print(f"missing {name}: a REGISTRY name it reads is no longer emitted")
            metrics = {k: {"value": v, "unit": units[k]} for k, v in values.items()}
            for k, v in values.items():
                print(f"layer {layer_of[k]:20s} {k:32s} {v:14.4f} {units[k]}")
        else:
            metrics = e2e_metrics(wl, setup_s)
        if wl.lag_ms:
            print(
                f"open loop: batch start lag p50={statistics.median(wl.lag_ms):.1f} ms "
                f"max={max(wl.lag_ms):.1f} ms over {len(wl.lag_ms)} batches"
            )
        for p in wl.problems:
            print(f"MISMATCH {p}")
        print(
            f"correctness attempted={wl.attempted} failed={wl.failed} "
            f"failed_op_ratio={wl.failed / max(wl.attempted, 1):.6f}"
        )
    finally:
        stop_spark(spark)
    result = {
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": metrics,
    }
    print(json.dumps(result), flush=True)
    return 0 if wl.failed == 0 else 1


def e2e_metrics(wl, setup_s: float) -> dict:
    values = {
        "setup_s": setup_s,
        "ingest_records_per_s": wl.records / wl.wall_s,
        "write_amplification": wl.write_amplification(),
        "live_files": wl.live_files(),
    }
    notes = {}
    for key, groups in (
        ("batch_ms", [[x] for x in wl.batch_ms]),
        ("freshness_ms", wl.fresh_ms),
    ):
        n = sum(map(len, groups))
        values[f"{key}_p50"] = statistics.median(x for g in groups for x in g)
        values[f"{key}_tail"], pct = tail(groups)
        notes[f"{key}_p50"] = f"n={n}"
        notes[f"{key}_tail"] = f"p{pct:.1f} of n={n} in {len(groups)} groups"
    for k, v in values.items():
        print(f"metric {k:22s} {v:14.4f} {E2E_UNITS[k]:10s} {notes.get(k, '')}")
    return {k: {"value": values[k], "unit": E2E_UNITS[k]} for k in E2E_UNITS}


if __name__ == "__main__":
    sys.exit(main())
