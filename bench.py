"""Benchmark harness: runs the declared query surface at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Per-query time = full plan execution to a collected (small) result.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

from ducklake_kafka_connect_spark.plans.queries import QUERIES
from ducklake_kafka_connect_spark.session import build_session


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    if "--ingest-only" in sys.argv:
        # one fresh-JVM ingest measurement (spawned by ingest_min_of_harness)
        spark = build_session(app_name="ducklake-bench-ingest")
        spark.range(1000).count()
        print("INGEST_JSON " + json.dumps(ingest_harness(spark)))
        spark.stop()
        return
    if "--host-factor" in sys.argv:
        # one fresh-JVM host calibration (spawned by host_factor_harness)
        print("HOSTF_JSON " + json.dumps(host_factor_measure()))
        return
    probes: dict = {"start": mini_probe()}
    spark = build_session(app_name="ducklake-bench")
    # warm up JVM / parquet footer caches with a trivial action
    spark.range(1000).count()
    # JIT/codegen warmup at sf0.001: the first few timed queries of a
    # fresh JVM otherwise absorb one-time whole-stage-codegen + operator
    # JIT for the whole operator family (measured ~2.5 s of phantom cost
    # on whichever query happens to run first), which min-of-2 does not
    # fully skim because BOTH runs of query #1 are early-JIT. Tiny data,
    # same operator shapes, results discarded.
    warm_dir = sf_dir.replace(f"sf{m.group(1)}", "sf0.001") if m else sf_dir
    if os.path.isdir(warm_dir):
        for wname in list(QUERIES)[:6]:
            try:
                QUERIES[wname].fn(spark, warm_dir).collect()
            except Exception:
                pass
        spark.catalog.clearCache()

    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    for name, qd in QUERIES.items():
        # min of 2 runs: the first pass anywhere pays one-time JVM JIT /
        # codegen / parquet-footer costs that are not plan cost. The
        # first run alone is the query's cold time.
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            try:
                df = qd.fn(spark, sf_dir)
                df.collect()
                elapsed = time.perf_counter() - t0
                best = elapsed if best is None else min(best, elapsed)
                cold.setdefault(name, round(elapsed, 3))
            except Exception as e:  # record failures without killing the run
                best = -1.0
                print(f"BENCH ERROR {name}: {e}", file=sys.stderr)
                break
        timings[name] = round(best, 3)
        # drop anything a query cached so later queries aren't timed
        # under another query's storage-memory churn
        spark.catalog.clearCache()

    probes["after_queries"] = mini_probe()
    record = {
        "metric": "query_surface_total_wall",
        "value": None,  # filled after the end-of-run second pass
        "unit": "sec",
        "queries": timings,
        "queries_cold": cold,
        "split": split_harness(spark, sf_dir),
        "sf": sf,
        # min over 3 FRESH JVMs (VERDICT r9 #2): single-invocation ingest
        # figures swing ±30 % on this host; the min is the code's number
        "ingest": ingest_min_of_harness(),
        # pinned CPU/shuffle/parquet microbenchmark in a fresh JVM
        # (VERDICT r10 #6): divide any round's query walls by the ratio
        # of host_factor.total_s across rounds to normalize host drift
        # without re-running the other round's tree
        "host_factor": host_factor_harness(),
        "replay": replay_harness(spark),
        "wide_scan": wide_scan_harness(spark, sf_dir),
        "sf1": sf1_harness(spark, sf_dir, timings),
    }
    # ---- end-of-run second pass (VERDICT r13 #1c): the single-shot
    # segments (slowest surface queries, wide26, sf1 ingest block) are
    # the ones a degraded window contaminates — re-run them once more at
    # the very end and keep the min, so one bad window can't own them.
    record["second_pass"] = second_pass_harness(spark, sf_dir, timings, record)
    total = round(sum(t for t in timings.values() if t >= 0), 3)
    record["value"] = total
    # same-host previous-tip A/B, both orders, pooled medians — run LAST
    # with the main session STOPPED: the r14 raw samples showed the A/B
    # window right after the surface absorbing page-cache/heap pressure
    # from the parent JVM (one side read 75 s on a query whose quiet-
    # window samples are 3.1-3.7 s); fresh side JVMs on a quiet machine
    # are the comparison the verdict needs
    spark.stop()
    probes["after_stop"] = mini_probe()
    record["ab"] = ab_harness(sf_dir)
    # ---- load telemetry + contamination stamp (VERDICT r13 #1b/#1d):
    # when the single-thread probe drifted >1.3x across the run (or an
    # A/B side saw drift), raw round-over-round comparisons are invalid
    # and the artifact says so itself instead of letting numbers stand.
    # settle before the final probe: the last A/B side JVM takes a few
    # seconds to exit, and probing into its shutdown measures OUR tail
    # load as if the host had drifted
    time.sleep(3)
    probes["end"] = mini_probe()
    # Per-section stamping: the surface/ingest stamp uses the run-level
    # probes around THOSE sections; the A/B phase carries its own stamp
    # (ab.load_contaminated, from the probes taken around each side).
    # The old pooled stamp let one turbulent A/B-phase probe flag the
    # whole artifact even when the surface window itself was quiet —
    # both drifts stay in the artifact so the pooling is auditable.
    samples = list(probes.values())
    drift = load_drift(samples)
    ab_samples = [
        p
        for cell in (record.get("ab", {}).get("orders") or {}).values()
        for p in cell.get("probes", {}).values()
    ]
    drift_with_ab = load_drift(samples + ab_samples)
    record["load"] = {
        "probes": probes,
        "drift": drift,
        "drift_with_ab": drift_with_ab,
        "load_contaminated": drift > 1.3,
    }
    # Full record to a repo file FIRST: the driver captures only the tail
    # of stdout, which has truncated past rounds' records (VERDICT r4 #5)
    # — the committed file is the durable round artifact.
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_LOCAL.json"), "w") as f:
            json.dump(record, f, indent=1, sort_keys=True)
            f.write("\n")
    except OSError as e:
        print(f"BENCH_LOCAL.json write failed: {e}", file=sys.stderr)
    # Compact human line before the full record so a truncated tail still
    # shows the headline numbers.
    slowest = sorted(
        ((t, n) for n, t in timings.items() if t >= 0), reverse=True
    )[:5]
    ing = record["ingest"]
    print(
        f"# total={total}s sf={sf} n_queries={len(timings)} "
        f"slowest={[f'{n}:{t}' for t, n in slowest]} "
        f"append_rows_per_s={ing.get('append_rows_per_s')} "
        f"merge_many_batches_per_s={ing.get('merge_many_batches_per_s')}",
        file=sys.stderr,
    )
    # The driver keeps only the LAST ~2000 chars of stdout and json-parses
    # that tail, so the final printed line must be a COMPLETE compact
    # record under that budget (ADVICE r8: full 130-query record is ~7 KB
    # and has never parsed). Headline-query timings + ingest/merge rates
    # inline; the full per-query surface lives in BENCH_LOCAL.json.
    compact = {
        "metric": "query_surface_total_wall",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "queries": {n: timings[n] for n in SF1_QUERIES if n in timings},
        "ingest": {k: v for k, v in ing.items() if isinstance(v, (int, float))},
        "host_factor": record["host_factor"],
        "wide_scan": record["wide_scan"],
        "sf1_ingest": record["sf1"].get("ingest", {}),
        "load": {
            "drift": record["load"]["drift"],
            "load_contaminated": record["load"]["load_contaminated"],
        },
        "ab_pooled_cur_over_prev": {
            q: v.get("cur_over_prev")
            for q, v in (record.get("ab", {}).get("pooled_median") or {}).items()
        },
        "ab_best_window_cur_over_prev": {
            q: v.get("cur_over_prev_best")
            for q, v in (record.get("ab", {}).get("pooled_median") or {}).items()
        },
        "errors": sorted(n for n, t in timings.items() if t < 0),
        "detail": "BENCH_LOCAL.json",
    }
    line = json.dumps(compact)
    if len(line) > 1900:  # hard tail budget: drop to the 10 slowest
        top10 = sorted(
            ((t, n) for n, t in timings.items() if t >= 0), reverse=True
        )[:10]
        compact["queries"] = {n: t for t, n in top10}
        line = json.dumps(compact)
    print(line)
    # (the main session already stopped before the A/B ran)


def wide_scan_harness(spark, sf_dir: str) -> dict:
    """VERDICT r11 'What's wrong #2' closure evidence: a WIDE (51-col)
    lake table scanned through the `ducklake` Python DataSource. Spark
    cannot push projection into Python sources, so a bare .select()
    reads the full width through Arrow; `.option("columns", ...)` must
    cut the read to the selected columns' pages — measured here against
    both the unpruned DataSource scan and the JVM-parquet native path."""
    import shutil
    import tempfile
    import uuid as _uuid

    from pyspark.sql import functions as F

    from ducklake_kafka_connect_spark.lake import LakeTable, LakeWriter
    from ducklake_kafka_connect_spark.sources import load_parquet
    from ducklake_kafka_connect_spark.sources.lake_datasource import (
        register_lake_datasource,
    )

    register_lake_datasource(spark)
    root = os.path.join(tempfile.gettempdir(), f"bench_wide_{_uuid.uuid4().hex[:8]}")
    try:
        t = LakeTable(spark, root, "wide")
        ev = load_parquet(spark, os.path.join(sf_dir, "events.parquet"))
        LakeWriter(t).append(
            ev.select(
                "event_id",
                "event_type",
                *[
                    ((F.col("event_id") * (i + 3)) % 997)
                    .cast("long")
                    .alias(f"c{i:02d}")
                    for i in range(49)
                ],
            )
        )

        def rd():
            return (
                spark.read.format("ducklake")
                .option("path", root)
                .option("table", "wide")
            )

        def timed(fn) -> float:
            best = None
            for _ in range(2):
                t0 = time.perf_counter()
                fn()
                e = time.perf_counter() - t0
                best = e if best is None else min(best, e)
            return round(best, 3)

        out = {
            "n_cols": 51,
            "rows": t.read().count(),
            "ds_full_width_s": timed(
                lambda: rd().load().agg(F.sum("c07")).collect()
            ),
            "ds_columns_opt_s": timed(
                lambda: rd().option("columns", "c07").load()
                .agg(F.sum("c07")).collect()
            ),
            "native_select_s": timed(
                lambda: t.read().select("c07").agg(F.sum("c07")).collect()
            ),
        }
        out["columns_opt_speedup"] = round(
            out["ds_full_width_s"] / max(out["ds_columns_opt_s"], 1e-9), 2
        )
        return out
    except Exception as e:
        return {"error": str(e)[:300]}
    finally:
        shutil.rmtree(root, ignore_errors=True)


def split_harness(spark, sf_dir: str) -> dict:
    """Build-vs-query split for the three queries whose combined number is
    dominated by one-time index/table construction (bench hygiene: a
    read-path regression must not hide under build cost). The combined
    numbers in ``queries`` stay directly comparable with earlier rounds."""
    from ducklake_kafka_connect_spark.plans.queries import (
        merge_upsert_build,
        merge_upsert_query,
        nested_roundtrip_build,
        nested_roundtrip_query,
        zorder_build,
        zorder_query,
    )

    out: dict = {}

    def timed(fn, *args):
        t0 = time.perf_counter()
        r = fn(*args)
        return r, round(time.perf_counter() - t0, 3)

    try:
        cat, b = timed(zorder_build, spark, sf_dir)
        _, q = timed(lambda: zorder_query(cat).collect())
        out["zorder_pruned_scan"] = {"build_s": b, "query_s": q}

        (w, batch, mcat), b = timed(merge_upsert_build, spark, sf_dir)
        _, q = timed(lambda: merge_upsert_query(w, batch, mcat).collect())
        out["merge_upsert_events"] = {"build_s": b, "query_s": q}

        ncat, b = timed(nested_roundtrip_build, spark, sf_dir)
        _, q = timed(lambda: nested_roundtrip_query(ncat).collect())
        out["nested_json_roundtrip"] = {"build_s": b, "query_s": q}
    except Exception as e:  # keep the bench line intact
        out["error"] = str(e)[:200]
    spark.catalog.clearCache()
    return out


# The same-host A/B set: lake-write ops (MERGE upsert, the medallion
# bronze→silver→gold chain, the matview refresh over a star join, the
# DLQ replay loop) and one Arrow-IPC ingest round trip — mid-cost,
# stable plans.
AB_QUERIES = [
    "merge_upsert_events", "arrow_ipc_ingest_roundtrip",
    "medallion_incremental_pipeline", "matview_star_join",
    "dlq_reprocess_pipeline",
]


def loadavg() -> list[float]:
    try:
        return [float(x) for x in open("/proc/loadavg").read().split()[:3]]
    except Exception:
        return []


def mini_probe() -> dict:
    """~0.5 s single-threaded CPU probe + loadavg snapshot. Taken before
    and after the query surface and around each A/B side (VERDICT r13
    #1b): probe drift across the run means the HOST changed speed while
    the artifact was being produced — numbers from a drifted run cannot
    support round-over-round claims and get stamped load_contaminated.

    The loop warms up untimed first and the timed figure is the MIN of
    three runs: an idle host ramps CPU frequency on the first burst, and
    without the warm-up the probe reads "slow" on a QUIET machine —
    the exact inversion of what the drift stamp means."""
    import hashlib

    def burst() -> float:
        t0 = time.perf_counter()
        h = b"probe"
        for _ in range(120_000):
            h = hashlib.md5(h).digest()
        return time.perf_counter() - t0

    burst()  # untimed frequency/cache warm-up
    best = min(burst() for _ in range(3))
    return {"probe_s": round(best, 4), "loadavg": loadavg()}


def load_drift(samples: list[dict]) -> float:
    vals = [s["probe_s"] for s in samples if isinstance(s.get("probe_s"), float)]
    if len(vals) < 2 or min(vals) <= 0:
        return 1.0
    return round(max(vals) / min(vals), 3)


def host_factor_measure() -> dict:
    """The pinned microbenchmark itself (runs inside a fresh JVM via
    ``--host-factor``): fixed-size CPU aggregate, shuffle, parquet
    round-trip, and a pure-Python hash loop. Same inputs every round by
    construction, so the ratio of ``total_s`` across two BENCH artifacts
    IS the host-speed ratio between those rounds — query walls divide by
    it instead of being argued about (VERDICT r10 #6)."""
    import hashlib
    import shutil
    import tempfile

    # pure-Python/CPU leg first (no JVM interference)
    t0 = time.perf_counter()
    h = b"seed"
    for _ in range(200_000):
        h = hashlib.md5(h).digest()
    py_hash_s = time.perf_counter() - t0

    spark = build_session(app_name="ducklake-bench-hostf")
    spark.range(1000).count()

    def timed_min2(fn) -> float:
        best = None
        for _ in range(2):
            t = time.perf_counter()
            fn()
            e = time.perf_counter() - t
            best = e if best is None else min(best, e)
        return best

    from pyspark.sql import functions as F

    jvm_agg_s = timed_min2(
        lambda: spark.range(0, 50_000_000, 1, 8)
        .selectExpr("id % 97 AS k", "id AS v")
        .groupBy("k")
        .agg(F.sum("v").alias("s"), F.avg("v").alias("a"))
        .collect()
    )
    shuffle_s = timed_min2(
        lambda: spark.range(0, 4_000_000, 1, 8)
        .repartition(32, "id")
        .count()
    )
    d = tempfile.mkdtemp(prefix="hostf-")
    try:
        def parquet_rt():
            p = os.path.join(d, "t.parquet")
            spark.range(0, 2_000_000, 1, 4).selectExpr(
                "id", "CAST(id AS STRING) AS s"
            ).write.mode("overwrite").parquet(p)
            spark.read.parquet(p).count()

        parquet_rt_s = timed_min2(parquet_rt)
    finally:
        shutil.rmtree(d, ignore_errors=True)
    spark.stop()
    out = {
        "py_hash_s": round(py_hash_s, 3),
        "jvm_agg_s": round(jvm_agg_s, 3),
        "shuffle_s": round(shuffle_s, 3),
        "parquet_rt_s": round(parquet_rt_s, 3),
    }
    out["total_s"] = round(sum(out.values()), 3)
    return out


def host_factor_harness() -> dict:
    """Run the calibration in its own fresh JVM so the main bench
    session's cache/JIT state can't contaminate it."""
    import subprocess

    try:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--host-factor"],
            capture_output=True,
            text=True,
            timeout=600,
        )
        for line in reversed(proc.stdout.splitlines()):
            if line.startswith("HOSTF_JSON "):
                return json.loads(line[len("HOSTF_JSON "):])
        return {"skipped": f"no HOSTF_JSON in output (rc={proc.returncode})"}
    except Exception as e:  # calibration must never kill the bench
        return {"skipped": f"{type(e).__name__}: {e}"}


def ingest_min_of_harness(n_runs: int = 3) -> dict:
    """VERDICT r9 #2: single-invocation ingest numbers on this host swing
    ±30 % between identical runs, so the recorded figure is the MIN over
    ``n_runs`` FRESH JVMs (each subprocess builds its own SparkSession,
    pays its own warmup, and measures a quiet steady state). The per-run
    records ride along so the spread itself is part of the artifact."""
    import subprocess

    runs: list[dict] = []
    for _ in range(n_runs):
        try:
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--ingest-only"],
                capture_output=True,
                text=True,
                timeout=600,
                cwd=os.path.dirname(os.path.abspath(__file__)),
            )
            for line in proc.stdout.splitlines():
                if line.startswith("INGEST_JSON "):
                    runs.append(json.loads(line[len("INGEST_JSON "):]))
                    break
            else:
                runs.append({"error": (proc.stderr or "no output")[-200:]})
        except Exception as e:
            runs.append({"error": str(e)[:200]})
    keys = {k for r in runs for k in r if isinstance(r.get(k), (int, float))}
    out: dict = {}
    for k in keys:
        vals = [r[k] for r in runs if isinstance(r.get(k), (int, float))]
        if not vals:
            continue
        # rates (x_per_s) take the max — min-of-N on a rate would keep
        # the WORST run; everything else is a latency, min is best-case
        out[k] = max(vals) if k.endswith("_per_s") else min(vals)
    out["ingest_min_of"] = len([r for r in runs if "error" not in r])
    out["runs"] = runs
    return out


def second_pass_harness(spark, sf_dir: str, timings: dict, record: dict) -> dict:
    """Re-run the slowest single-shot segments once at the very end and
    fold the MIN back into the artifact (VERDICT r13 #1c). The segments
    re-run here are exactly the ones the r13 contamination hit: the
    slowest surface queries (single JVM, one window), the ingest harness
    (wide26 block), and the sf1 ingest block."""
    out: dict = {}
    if os.environ.get("SPARK_GRAFT_SECOND_PASS", "1") == "0":
        return {"skipped": "SPARK_GRAFT_SECOND_PASS=0"}
    # 1. five slowest surface queries, one extra run each, keep min
    slowest = sorted(
        ((t, n) for n, t in timings.items() if t >= 0), reverse=True
    )[:5]
    rerun: dict = {}
    for t_old, name in slowest:
        try:
            t0 = time.perf_counter()
            QUERIES[name].fn(spark, sf_dir).collect()
            el = round(time.perf_counter() - t0, 3)
            rerun[name] = {"was": t_old, "rerun": el}
            timings[name] = min(t_old, el)
        except Exception as e:
            rerun[name] = {"was": t_old, "error": str(e)[:120]}
        spark.catalog.clearCache()
    out["slowest_rerun"] = rerun

    def fold(dst: dict, src: dict) -> dict:
        changed = {}
        for k, v in src.items():
            old = dst.get(k)
            if not isinstance(v, (int, float)) or not isinstance(old, (int, float)):
                continue
            new = max(old, v) if str(k).endswith("_per_s") else min(old, v)
            if new != old:
                changed[k] = {"was": old, "now": new}
                dst[k] = new
        return changed

    # 2. one more fresh-JVM ingest run (covers the wide26 block), min-fold
    try:
        extra = ingest_min_of_harness(n_runs=1)
        extra.pop("runs", None)
        extra.pop("ingest_min_of", None)
        out["ingest_refold"] = fold(record.get("ingest", {}), extra)
    except Exception as e:
        out["ingest_refold"] = {"error": str(e)[:150]}
    # 3. sf1 ingest block once more (same session), min-fold
    try:
        sf1 = record.get("sf1", {})
        if isinstance(sf1.get("ingest"), dict) and "error" not in sf1["ingest"]:
            out["sf1_ingest_refold"] = fold(sf1["ingest"], sf1_ingest(spark))
    except Exception as e:
        out["sf1_ingest_refold"] = {"error": str(e)[:150]}
    return out


def ab_harness(sf_dir: str) -> dict:
    """VERDICT r9 #2: record the machine factor per artifact instead of
    arguing it per round — run AB_QUERIES on this tree AND the previous
    round's tip (git worktree), in BOTH orders, each side a fresh JVM.
    If the sign of the cur/prev ratio flips with run order, the delta is
    host noise, not code. Skipped cleanly (reason recorded) when git or
    the previous tip is unavailable. Disable with SPARK_GRAFT_AB=0."""
    import shutil
    import subprocess
    import tempfile

    if os.environ.get("SPARK_GRAFT_AB", "1") == "0":
        return {"skipped": "SPARK_GRAFT_AB=0"}
    repo = os.path.dirname(os.path.abspath(__file__))

    def _git(*args):
        return subprocess.run(
            ["git", *args], capture_output=True, text=True, cwd=repo, timeout=120
        )

    log = _git("log", "--format=%H %s")
    prev_sha = None
    for line in log.stdout.splitlines():
        sha, _, subj = line.partition(" ")
        if re.match(r"round \d+:", subj):
            prev_sha = sha
            break
    if prev_sha is None:
        return {"skipped": "no previous round-tip commit found"}
    wt = tempfile.mkdtemp(prefix="bench_ab_prev_")
    out: dict = {"prev_sha": prev_sha[:12], "queries": AB_QUERIES, "orders": {}}
    try:
        add = _git("worktree", "add", "--detach", wt, prev_sha)
        if add.returncode != 0:
            return {"skipped": f"worktree add failed: {add.stderr[-150:]}"}

        # version-agnostic side runner (the previous tip predates any
        # --ab-queries flag): time the triple straight off that tree's
        # QUERIES registry in a fresh JVM. VERDICT r13 #1a: best-of-2
        # with a ~10 s cold first run is effectively ONE contaminated
        # sample — each side now runs 1 discarded cold + 3 warm
        # iterations, and the verdict pools warm samples across BOTH
        # orders into a median per side.
        side_script = (
            "import json, sys, time\n"
            "from ducklake_kafka_connect_spark.plans.queries import QUERIES\n"
            "from ducklake_kafka_connect_spark.session import build_session\n"
            "names, sf_dir = json.loads(sys.argv[1]), sys.argv[2]\n"
            "spark = build_session(app_name='bench-ab-side')\n"
            "spark.range(1000).count()\n"
            "out = {}\n"
            "for n in names:\n"
            "    warm = []\n"
            "    for i in range(4):\n"
            "        t0 = time.perf_counter()\n"
            "        QUERIES[n].fn(spark, sf_dir).collect()\n"
            "        el = round(time.perf_counter() - t0, 3)\n"
            "        if i == 0:\n"
            "            out[n + '__cold'] = el\n"  # discarded from stats
            "        else:\n"
            "            warm.append(el)\n"
            "    out[n] = warm\n"
            "print('AB_JSON ' + json.dumps(out))\n"
            "spark.stop()\n"
        )

        def run_side(tree: str) -> dict:
            env = dict(os.environ, PYTHONPATH=tree)
            proc = subprocess.run(
                [
                    sys.executable, "-c", side_script,
                    json.dumps(AB_QUERIES), sf_dir,
                ],
                capture_output=True,
                text=True,
                timeout=900,
                cwd=tree,
                env=env,
            )
            for line in proc.stdout.splitlines():
                if line.startswith("AB_JSON "):
                    return json.loads(line[len("AB_JSON "):])
            return {"error": (proc.stderr or "no output")[-200:]}

        for order in ("prev_first", "cur_first"):
            sides = [("prev", wt), ("cur", repo)]
            if order == "cur_first":
                sides.reverse()
            cell: dict = {"probes": {}}
            for label, tree in sides:
                cell["probes"][f"before_{label}"] = mini_probe()
                cell[label] = run_side(tree)
            out["orders"][order] = cell
        # pooled medians across both orders (3 warm samples x 2 orders
        # = 6 per side per query); the per-order raw samples stay in the
        # artifact so the pooling is auditable
        def med(vals: list) -> float | None:
            vals = sorted(v for v in vals if isinstance(v, (int, float)))
            if not vals:
                return None
            n = len(vals)
            mid = n // 2
            return round(
                vals[mid] if n % 2 else (vals[mid - 1] + vals[mid]) / 2, 3
            )

        pooled: dict = {}
        for q in AB_QUERIES:
            qq: dict = {}
            for side in ("prev", "cur"):
                samples: list = []
                per_order: list = []
                for cell in out["orders"].values():
                    got = cell.get(side, {}).get(q)
                    if isinstance(got, list):
                        samples.extend(got)
                        om = med(got)
                        if om is not None:
                            per_order.append(om)
                    elif isinstance(got, (int, float)):
                        samples.append(got)
                        per_order.append(got)
                qq[side] = med(samples)
                qq[f"{side}_n"] = len(
                    [s for s in samples if isinstance(s, (int, float))]
                )
                # one degraded window poisons a pooled median (r14 run:
                # order medians 3.2 s vs 32.8 s for identical code) —
                # keep the per-order medians, the quiet-window min, and
                # a disagreement flag so the verdict can defend itself
                if per_order:
                    qq[f"{side}_best"] = min(per_order)
                    qq[f"{side}_order_disagree"] = (
                        len(per_order) > 1
                        and min(per_order) > 0
                        and max(per_order) / min(per_order) > 1.5
                    )
            if qq.get("prev") and qq.get("cur"):
                qq["cur_over_prev"] = round(qq["cur"] / qq["prev"], 3)
            if qq.get("prev_best") and qq.get("cur_best"):
                qq["cur_over_prev_best"] = round(
                    qq["cur_best"] / qq["prev_best"], 3
                )
            pooled[q] = qq
        out["pooled_median"] = pooled
        drift = load_drift(
            [p for cell in out["orders"].values()
             for p in cell.get("probes", {}).values()]
        )
        out["load_drift"] = drift
        out["load_contaminated"] = drift > 1.3
    except Exception as e:
        out["error"] = str(e)[:200]
    finally:
        subprocess.run(
            ["git", "worktree", "remove", "--force", wt],
            capture_output=True, cwd=repo, timeout=120,
        )
        shutil.rmtree(wt, ignore_errors=True)
    return out


def ingest_harness(spark) -> dict:
    """BASELINE.md targets 1-2: append throughput on a partitioned table
    and MERGE batches at PK-conflict rates, mirroring the reference's
    DucklakeWriterIntegrationTest harness (base=100k rows, batch=10k,
    conflicts 1/10/30%)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from ducklake_kafka_connect_spark.lake import LakeCatalog, LakeWriter

    out: dict[str, float] = {}
    lake_dir = tempfile.mkdtemp(prefix="bench_lake_")
    try:
        cat = LakeCatalog(spark, lake_dir)
        # Steady-state warmup on a scratch table: the first merge anywhere
        # in a session pays one-time window/parquet codegen that is not
        # per-batch cost (the reference's 30-100 ms guidance is likewise a
        # steady-state JMX average, not a cold first batch).
        wu = LakeWriter(cat.table("bench_warmup"), pk=["id"],
                        partition_by="month(created_at)")
        warm = spark.range(1_000).select(
            F.col("id"),
            F.lit("w").alias("name"),
            F.timestamp_seconds(F.lit(1704067200) + F.col("id")).alias("created_at"),
        )
        wu.write(warm)
        wu.write(warm)
        base = spark.range(100_000).select(
            F.col("id"),
            F.concat(F.lit("name_"), F.col("id")).alias("name"),
            (F.timestamp_seconds(1704067200 + F.col("id") % 2_592_000)).alias("created_at"),
        )
        w = LakeWriter(cat.table("bench_merge"), pk=["id"],
                       partition_by="month(created_at)")
        t0 = time.perf_counter()
        w.write(base)
        append_s = time.perf_counter() - t0
        out["append_100k_partitioned_s"] = round(append_s, 3)
        out["append_rows_per_s"] = round(100_000 / append_s)
        for rate in (1, 10, 30):
            n_conflict = 10_000 * rate // 100
            batch = spark.range(10_000).select(
                F.when(F.col("id") < n_conflict, F.col("id") * (100 // rate))
                .otherwise(F.col("id") + 1_000_000)
                .alias("id"),
                F.lit("updated").alias("name"),
                F.timestamp_seconds(1704067200 + F.col("id") % 2_592_000).alias("created_at"),
            )
            t0 = time.perf_counter()
            w.write(batch)
            out[f"merge_10k_conflict{rate}pct_s"] = round(time.perf_counter() - t0, 3)
        # data inlining (lake/inline.py, r14): a 20-row trickle append on
        # an opted-in table commits as ONE metadata PUT — no Spark write
        # job, no parquet file. The same drip on a plain table prices the
        # file path; the ratio is the small-write latency win the
        # reference's data.inlining.row.limit exists for.
        from ducklake_kafka_connect_spark.lake.inline import inline_state
        from ducklake_kafka_connect_spark.lake.relation_cache import (
            local_rows_df,
        )
        from pyspark.sql import types as T

        # The drip batches are built as Arrow LocalRelations (local_rows_df — the
        # engine's own API for driver-local rows) instead of
        # spark.createDataFrame, whose RDD-backed plan reports UNKNOWN
        # size to the optimizer and so disqualified every batch from the
        # small-append fast paths the metric exists to price. Both the
        # file side and the inline side get the same input shape, so the
        # speedup ratio stays a like-for-like comparison of COMMIT cost.
        drip_schema = T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("name", T.StringType()),
                T.StructField("created_at", T.TimestampType()),
            ]
        )
        drip = [
            local_rows_df(
                spark,
                [(1_000_000 + 20 * i + j, f"d{i}", None) for j in range(20)],
                drip_schema,
            )
            for i in range(5)
        ]
        wi = LakeWriter(cat.table("bench_inline"), pk=["id"])
        wi.write(drip[0].limit(1))  # create + warm
        cat.sql(
            "ALTER TABLE bench_inline SET TBLPROPERTIES "
            "('write.inlining.row.limit'='1000')"
        )
        t0 = time.perf_counter()
        for b in drip:
            wi.append(b)
        inline_s = time.perf_counter() - t0
        if not inline_state(cat.table("bench_inline").manifest())[0]:
            raise AssertionError("bench: inline path did not engage")
        wp = LakeWriter(cat.table("bench_plain"), pk=["id"])
        wp.write(drip[0].limit(1))
        t0 = time.perf_counter()
        for b in drip:
            wp.append(b)
        plain_s = time.perf_counter() - t0
        out["inline_5x20row_appends_s"] = round(inline_s, 3)
        out["file_5x20row_appends_s"] = round(plain_s, 3)
        out["inline_commit_speedup"] = round(plain_s / inline_s, 2)
        # group commit: 10 queued 2k-row micro-batches through ONE
        # merge_many (VERDICT r2 #1: amortized per-merge fixed overhead);
        # batches/s is the sustained ingest rate a coalescing sink sees
        n_batches = 10
        batches = [
            spark.range(2_000).select(
                (F.col("id") * 7 + i).alias("id"),
                F.lit(f"gc_{i}").alias("name"),
                F.timestamp_seconds(1704067200 + F.col("id") % 2_592_000).alias("created_at"),
            )
            for i in range(n_batches)
        ]
        t0 = time.perf_counter()
        w.merge_many(batches)
        many_s = time.perf_counter() - t0
        out["merge_many_10x2k_s"] = round(many_s, 3)
        out["merge_many_batches_per_s"] = round(n_batches / many_s, 1)
        # merge-on-read vs copy-on-write on a WIDE table (26 columns,
        # 100k rows, 10k fully-matched batch): MOR commits delta +
        # tombstone (O(batch), width-independent) where COW rewrites the
        # matched files (O(matched files × width)). Steady state: the
        # first merge per mode warms its path, the second is timed. The
        # read-after metric prices the visibility anti-join MOR defers.
        wide_exprs = [
            (F.col("id") * i).cast("double").alias(f"w{i}") for i in range(1, 25)
        ]
        # 400k x 26 base with the batch's keys spread uniformly across
        # the whole pk range: every base file holds matched keys, so
        # copy-on-write rewrites the full table while merge-on-read
        # stays O(batch) — the CDC-against-wide-fact shape MOR targets
        wide = spark.range(400_000).select(
            F.col("id"), F.concat(F.lit("n_"), F.col("id")).alias("name"),
            *wide_exprs,
        )
        batch_w = spark.range(10_000).select(
            (F.col("id") * 40).alias("id"), F.lit("upd").alias("name"),
            *[(F.col("id") + i).cast("double").alias(f"w{i}") for i in range(1, 25)],
        )
        for mode, key in (("copy-on-write", "cow"), ("merge-on-read", "mor")):
            wt = LakeWriter(
                cat.table(f"bench_wide_{key}"), pk=["id"], merge_mode=mode,
            )
            # copy-on-write measures the Spark pruning executor
            wt._merge_arrow = lambda *a, **k: None
            wt.write(wide)
            wt.write(batch_w)  # warm this mode's merge path
            t0 = time.perf_counter()
            wt.write(batch_w)
            out[f"merge_wide26_10k_{key}_s"] = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        cat.table("bench_wide_mor").read().count()
        out["mor_wide26_read_s"] = round(time.perf_counter() - t0, 3)
    except Exception as e:  # keep the bench line intact on harness failure
        out["error"] = str(e)[:200]
    finally:
        shutil.rmtree(lake_dir, ignore_errors=True)
    return out


def replay_harness(spark) -> dict:
    """Connector throughput: a recorded Kafka-shaped micro-batch (100k
    schemaless-JSON records with topic/partition/offset/headers columns,
    read back from parquet like a real replay) driven through the FULL
    ingest pipeline — routing → sampled schema inference → one from_json
    decode → DLQ split → auto-create MERGE — the reference's
    EndToEndIntegrationTest dataflow as a rate."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from ducklake_kafka_connect_spark.lake import LakeCatalog
    from ducklake_kafka_connect_spark.streaming.ingest import (
        IngestConfig,
        IngestPipeline,
        TableSpec,
    )

    out: dict[str, float] = {}
    root = tempfile.mkdtemp(prefix="bench_replay_")
    n = 100_000
    try:
        payload = F.to_json(
            F.struct(
                F.col("id"),
                F.concat(F.lit("item_"), F.col("id") % 1000).alias("item"),
                (F.col("id") % 50).alias("qty"),
                F.date_format(
                    F.timestamp_seconds(1704067200 + F.col("id") % 86400),
                    "yyyy-MM-dd'T'HH:mm:ss'Z'",
                ).alias("created_at"),
            )
        ).cast("binary")
        fixture = spark.range(n).select(
            F.lit("orders_json").alias("topic"),
            (F.col("id") % 32).cast("int").alias("partition"),
            F.col("id").alias("offset"),
            F.lit("2024-01-01T00:00:00").alias("ts"),
            F.lit(None)
            .cast("array<struct<key: string, value: binary>>")
            .alias("headers"),
            payload.alias("value"),
        )
        path = f"{root}/recorded_batch.parquet"
        fixture.write.parquet(path)
        batch = spark.read.parquet(path)
        cat = LakeCatalog(spark, f"{root}/lake")
        # two runs into separate tables: the first pays one-time
        # inference/decode codegen (like the merge warmup above), the
        # second is the steady-state rate a running connector sustains
        for run, table in (("cold", "orders_cold"), ("steady", "orders_t")):
            cfg = IngestConfig(
                topic2table={"orders_json": table},
                tables={
                    table: TableSpec(
                        id_columns=["id"], auto_create=True, format="json"
                    )
                },
            )
            pipe = IngestPipeline(cat, cfg)
            t0 = time.perf_counter()
            pipe.process_batch(batch)
            el = time.perf_counter() - t0
            out[f"replay_100k_json_{run}_s"] = round(el, 3)
            out[f"replay_rows_per_s_{run}"] = round(n / el)
        out["replay_rows_landed"] = cat.table("orders_t").read().count()
    except Exception as e:
        out["error"] = str(e)[:200]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


# ---- sf1 scale rehearsal (VERDICT r2 #6) ----
# /root/testdata ships no sf1 dir, so the rehearsal replicates the sf0.1
# tables 10x with key-space shifts. Heaviest queries first-to-safest order,
# hard wall-clock budget, one run each — a scaling probe, not a score.
SF1_COPIES = 10
SF1_BUDGET_S = 240.0
SF1_SHIFTS = {
    "events": {"event_id": 10**12},
    "documents": {"doc_id": 10**12},
    "embeddings": {"vec_id": 10**12},
    "orders": {"o_orderkey": 10**12, "o_custkey": 10**11},
    "lineitem": {"l_orderkey": 10**12},
    "customer": {"c_custkey": 10**11},
}
SF1_LINKED = ["region", "nation", "supplier", "part"]
SF1_QUERIES = [  # r3's 10 most expensive, cheap/stable first
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "zorder_pruned_scan",
    "nested_json_roundtrip",
    "merge_upsert_events",
    # round-5 additions: CDC-maintained aggregate and shared-exchange
    # windows
    "incremental_agg_view",
    "window_rank_suite",
    # round-5 third wave: the exact-distinct profiler (shuffle ∝ distinct
    # values), corpus-sized sessionization, and the full ingest dataflow
    # (decode→DLQ→merge write path)
    "table_profile_lineitem",
    "session_assembly",
    "ingest_replay_pipeline",
    # round-9 addition: the DLQ replay loop (two full connector
    # dataflows + the single-commit swap — the heaviest e2e query)
    "dlq_reprocess_pipeline",
    # round-10 addition: the IVF-PQ index (build memoized once +
    # manifest-pruned ADC probe — the corpus-size-independent path)
    "ann_ivfpq_topk",
]
# >12x wall on 10x data (the VERDICT gate) earns a plan note
SF1_RATIO_FLAG = 12.0

# Queries whose RESULT grows linearly with the corpus (one row per
# order/event): collect() would time Python-driver row materialization,
# not the plan. These sink to parquet — the production path — and their
# sf0.1 baseline is re-timed with the same sink inside the rehearsal so
# the ratio compares like with like.
SF1_SINK_TO_PARQUET = {"window_rank_suite", "merge_upsert_events", "session_assembly"}


def _run_query(
    spark, name: str, data_dir: str, sink_dir: str | None, runs: int = 2
) -> float:
    """Time one query end-to-end; large-output queries write parquet
    instead of collecting through the Python driver. Min of ``runs``
    executions — the SAME protocol the sf0.1 surface uses, so
    sf1/sf0.1 ratios compare warm against warm (a single cold sf1 run
    against a warm sf0.1 baseline would read as a phantom scale
    blowup)."""
    first = best = None
    for _ in range(runs):
        t0 = time.perf_counter()
        df = QUERIES[name].fn(spark, data_dir)
        if name in SF1_SINK_TO_PARQUET and sink_dir is not None:
            df.write.mode("overwrite").parquet(os.path.join(sink_dir, name))
        else:
            df.collect()
        el = time.perf_counter() - t0
        if first is None:
            first = el
        best = el if best is None else min(best, el)
    return round(first, 3), round(best, 3)


def build_sf1_dir(spark, sf_dir: str) -> str:
    import functools
    import tempfile

    from pyspark.sql import DataFrame, functions as F

    from ducklake_kafka_connect_spark.sources.parquet_loader import load_parquet

    out_dir = tempfile.mkdtemp(prefix="bench_sf1_")
    for name, shifts in SF1_SHIFTS.items():
        src = load_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
        copies = []
        for i in range(SF1_COPIES):
            d = src
            for col, span in shifts.items():
                d = d.withColumn(col, F.col(col) + F.lit(i * span))
            copies.append(d)
        functools.reduce(DataFrame.unionByName, copies).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"{name}.parquet")
        )
    for name in SF1_LINKED:
        os.symlink(
            os.path.join(sf_dir, f"{name}.parquet"),
            os.path.join(out_dir, f"{name}.parquet"),
        )
    return out_dir


def sf1_harness(spark, sf_dir: str, sf01_timings: dict) -> dict:
    import shutil

    if os.environ.get("SPARK_GRAFT_SF1", "1") == "0":
        return {"skipped": "SPARK_GRAFT_SF1=0"}
    out: dict = {"copies": SF1_COPIES, "queries": {}, "ratio_vs_sf01": {}, "notes": []}
    t0 = time.perf_counter()
    try:
        sf1_dir = build_sf1_dir(spark, sf_dir)
    except Exception as e:
        return {"error": f"build: {str(e)[:200]}"}
    out["build_s"] = round(time.perf_counter() - t0, 3)
    spent = 0.0
    try:
        for name in SF1_QUERIES:
            if spent > SF1_BUDGET_S:
                out["queries"][name] = "skipped_budget"
                continue
            try:
                sink = sf1_dir if name in SF1_SINK_TO_PARQUET else None
                cold, el = _run_query(spark, name, sf1_dir, sink)
                out["queries"][name] = el
                # first-run (cold-cache) wall for transparency: the warm
                # min is the ratio basis (symmetric with sf0.1), but the
                # cold number is what a one-shot pipeline run would pay
                out.setdefault("queries_cold", {})[name] = cold
                if sink is not None:
                    # re-time the sf0.1 side with the same parquet sink so
                    # the ratio is plan-vs-plan, not collect-vs-write
                    _, base = _run_query(spark, name, sf_dir, sink)
                    out.setdefault("sf01_resunk", {})[name] = base
                else:
                    base = sf01_timings.get(name)
                if base and base > 0:
                    ratio = round(el / base, 1)
                    out["ratio_vs_sf01"][name] = ratio
                    if ratio > SF1_RATIO_FLAG:
                        out["notes"].append(
                            f"{name}: {ratio}x wall on {SF1_COPIES}x data"
                        )
                spent += el
            except Exception as e:
                out["queries"][name] = -1.0
                out["notes"].append(f"{name}: {str(e)[:120]}")
            spark.catalog.clearCache()
        # merge harness at 10x the sf0.1 scale (1M base, 100k batches)
        out["ingest"] = sf1_ingest(spark)
    finally:
        shutil.rmtree(sf1_dir, ignore_errors=True)
    return out


def sf1_ingest(spark) -> dict:
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from ducklake_kafka_connect_spark.lake import LakeCatalog, LakeWriter

    out: dict = {}
    lake_dir = tempfile.mkdtemp(prefix="bench_sf1_lake_")
    try:
        # the rehearsal queries just churned the heap (the DLQ replay at
        # sf1 decodes 1M-row frames twice); settle the JVM so the ingest
        # numbers measure the write path, not the previous query's GC debt
        spark.catalog.clearCache()
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass
        cat = LakeCatalog(spark, lake_dir)
        w = LakeWriter(cat.table("m1"), pk=["id"], partition_by="month(created_at)")
        base = spark.range(1_000_000).select(
            F.col("id"),
            F.concat(F.lit("name_"), F.col("id")).alias("name"),
            F.timestamp_seconds(1704067200 + F.col("id") % 5_184_000).alias("created_at"),
        )
        t0 = time.perf_counter()
        w.write(base)
        el = time.perf_counter() - t0
        out["append_1m_partitioned_s"] = round(el, 3)
        out["append_rows_per_s"] = round(1_000_000 / el)
        batch = spark.range(100_000).select(
            F.when(F.col("id") < 10_000, F.col("id") * 10)
            .otherwise(F.col("id") + 10_000_000)
            .alias("id"),
            F.lit("updated").alias("name"),
            F.timestamp_seconds(1704067200 + F.col("id") % 5_184_000).alias("created_at"),
        )
        t0 = time.perf_counter()
        w.write(batch)
        out["merge_100k_conflict10pct_s"] = round(time.perf_counter() - t0, 3)
        # ---- same merge, merge-on-read mode (the 100 TB CDC path):
        # commit cost must be O(batch), independent of the 1M-row base
        w2 = LakeWriter(
            cat.table("m2"), pk=["id"], partition_by="month(created_at)",
            merge_mode="merge-on-read",
        )
        w2.write(base)  # un-timed: same append shape as m1
        t0 = time.perf_counter()
        w2.write(batch)
        out["merge_100k_mor_s"] = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        n = cat.table("m2").read().count()
        out["mor_read_count_s"] = round(time.perf_counter() - t0, 3)
        assert n == 1_090_000, n
        from ducklake_kafka_connect_spark.lake.maintenance import compact

        t0 = time.perf_counter()
        compact(cat.table("m2"))
        out["mor_optimize_s"] = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        cat.table("m2").read().count()
        out["mor_post_optimize_read_s"] = round(time.perf_counter() - t0, 3)
    except Exception as e:
        out["error"] = str(e)[:200]
    finally:
        shutil.rmtree(lake_dir, ignore_errors=True)
    return out


if __name__ == "__main__":
    main()
