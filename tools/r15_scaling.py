"""r15 scaling probe (VERDICT r14 #1): the 5 heaviest data-parallel
queries at sf1, run under low vs high core counts in FRESH JVMs, to
measure whether the engine's query paths actually parallelize once the
data is big enough to dominate orchestration.

Modes:
  build <out_dir>          — materialize the sf1 replica dir (reuses
                             bench.build_sf1_dir) for reuse across sides
  side <sf1_dir> <names>   — time each query (1 cold + N warm, min of
                             warm) in THIS process's session; honors
                             SPARK_GRAFT_CPUS like bench.py
  drive <sf1_dir>          — run `side` at cpus=32 then cpus=8 (both
                             fresh JVMs), print per-query low/high ratio

Usage:
  python tools/r15_scaling.py build /tmp/r15_sf1
  python tools/r15_scaling.py drive /tmp/r15_sf1
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

QUERIES_5 = [
    "q1_pricing_summary",
    "q5_local_supplier_volume",
    "dedup_simhash_hamming",
    "dedup_minhash_lsh",
    "semdedup_prune",
]

WARM_RUNS = 2


def build(out_dir: str) -> None:
    from bench import SF1_LINKED, SF1_SHIFTS, SF1_COPIES
    import functools

    from pyspark.sql import DataFrame, functions as F

    from ducklake_kafka_connect_spark.session import build_session
    from ducklake_kafka_connect_spark.sources.parquet_loader import load_parquet

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = build_session(app_name="r15-scaling-build")
    os.makedirs(out_dir, exist_ok=True)
    for name, shifts in SF1_SHIFTS.items():
        dst = os.path.join(out_dir, f"{name}.parquet")
        if os.path.exists(dst):
            continue
        src = load_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
        copies = []
        for i in range(SF1_COPIES):
            d = src
            for col, span in shifts.items():
                d = d.withColumn(col, F.col(col) + F.lit(i * span))
            copies.append(d)
        functools.reduce(DataFrame.unionByName, copies).write.mode(
            "overwrite"
        ).parquet(dst)
    for name in SF1_LINKED:
        dst = os.path.join(out_dir, f"{name}.parquet")
        if not os.path.exists(dst):
            os.symlink(os.path.join(sf_dir, f"{name}.parquet"), dst)
    spark.stop()
    print(f"BUILD_DONE {out_dir}")


def side(sf1_dir: str, names: list[str]) -> None:
    from ducklake_kafka_connect_spark.plans.queries import QUERIES
    from ducklake_kafka_connect_spark.session import build_session

    spark = build_session(app_name="r15-scaling-side")
    spark.range(1000).count()
    out: dict = {"cpus": os.environ.get("SPARK_GRAFT_CPUS", "32")}
    for n in names:
        samples = []
        for i in range(1 + WARM_RUNS):
            t0 = time.perf_counter()
            QUERIES[n].fn(spark, sf1_dir).collect()
            el = round(time.perf_counter() - t0, 3)
            samples.append(el)
            spark.catalog.clearCache()
            try:
                from ducklake_kafka_connect_spark.operators import dedup as dd

                dd.release_cached()
            except Exception:
                pass
        out[n] = {"cold": samples[0], "warm_min": min(samples[1:])}
    print("SIDE_JSON " + json.dumps(out))
    spark.stop()


def drive(sf1_dir: str, names: list[str]) -> None:
    here = os.path.abspath(__file__)
    results: dict = {}
    for cpus in ("32", "8"):
        env = dict(os.environ, SPARK_GRAFT_CPUS=cpus)
        proc = subprocess.run(
            [sys.executable, here, "side", sf1_dir, ",".join(names)],
            capture_output=True, text=True, timeout=3600, env=env,
        )
        got = None
        for line in proc.stdout.splitlines():
            if line.startswith("SIDE_JSON "):
                got = json.loads(line[len("SIDE_JSON "):])
        if got is None:
            print(f"cpus={cpus} FAILED: {proc.stderr[-500:]}", file=sys.stderr)
            return
        results[cpus] = got
        print(f"cpus={cpus}: " + json.dumps(got))
    ratios = {
        n: round(
            results["8"][n]["warm_min"] / max(results["32"][n]["warm_min"], 1e-9), 2
        )
        for n in names
    }
    print("RATIOS (8-core wall / 32-core wall; >1 = parallel speedup): "
          + json.dumps(ratios))


if __name__ == "__main__":
    mode = sys.argv[1]
    if mode == "build":
        build(sys.argv[2])
    elif mode == "side":
        side(sys.argv[2], sys.argv[3].split(","))
    elif mode == "drive":
        names = sys.argv[3].split(",") if len(sys.argv) > 3 else QUERIES_5
        drive(sys.argv[2], names)
    else:
        raise SystemExit(f"unknown mode {mode}")
