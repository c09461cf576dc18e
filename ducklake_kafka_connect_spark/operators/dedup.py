"""Shared plumbing of the memoized query plans and the cross-engine hash.

- ``_persist`` / ``release_cached``: tracked ``persist`` of plan
  intermediates and their release.
- ``_memo_plan``: the prepared-plan memo — semantically identical
  inputs get the same built DataFrame back.
- ``h60_col`` / ``h60_sql``: the first 60 bits of ``md5`` as BIGINT,
  bit-identical in Spark and DuckDB, so hash-based plans compare
  exactly against their oracle SQL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MERSENNE = 2147483647  # 2^31 - 1; keeps a*h+b inside int64 on both engines


# Persisted intermediates registered here are released by release_cached()
# — plans return LAZY frames, so they cannot unpersist before the
# caller consumes the result; a long-lived driver calls release_cached()
# between uses instead of leaking CacheManager entries until clearCache.
_CACHED_FRAMES: list = []


def _persist(df):
    """``df.persist()``, tracked once for release_cached(). Frames whose
    plan a clearCache()/unpersist dropped from the CacheManager leave the
    list here, so re-persisting after every clearCache stays flat."""
    df = df.persist()
    _CACHED_FRAMES[:] = [
        f for f in _CACHED_FRAMES if f is not df and _plan_actually_cached(f)
    ]
    _CACHED_FRAMES.append(df)
    return df


def release_cached() -> int:
    """Unpersist every intermediate cached by dedup operators since the
    last call. Safe to call after results are consumed."""
    n = 0
    while _CACHED_FRAMES:
        try:
            _CACHED_FRAMES.pop().unpersist()
            n += 1
        except Exception:
            pass
    return n


# Prepared-plan memo: constructing multi-stage query plans costs
# >1 s of driver-side work (hundreds of Column/py4j calls + one plan
# canonicalization per persisted intermediate) — more than executing
# them warm. Semantically-identical inputs get the SAME DataFrame back,
# the way a SQL engine reuses a prepared statement. Keyed on the input
# plan's semanticHash + operator params; guarded so a stopped session
# or hash failure just rebuilds.
#
# Consistency contract: memo reuse has the SAME snapshot semantics as
# any persisted DataFrame in Spark — if the underlying files are
# rewritten in place mid-session, cached intermediates keep serving the
# data they were computed from. Callers that mutate source paths should
# clearCache() (re-registration then recomputes from current files).
_PLAN_MEMO: dict = {}
_PLAN_MEMO_CAP = 32


def _plan_actually_cached(df: DataFrame) -> bool:
    """True iff the plan is REGISTERED in the session's CacheManager.

    ``DataFrame.is_cached`` reads the Dataset's storage-level flag, which
    stays True after ``spark.catalog.clearCache()`` — trusting it left
    memo reuses permanently uncached (every traversal recomputed the
    whole pipeline; measured 4x wall on the cluster query under the
    bench's clearCache-between-queries protocol)."""
    try:
        cm = df.sparkSession._jsparkSession.sharedState().cacheManager()
        return not cm.lookupCachedData(df._jdf).isEmpty()
    except Exception:
        return False


def _memo_plan(docs: DataFrame, tag: str, params: tuple, build):
    try:
        key = (id(docs.sparkSession), tag, docs.semanticHash(), params)
    except Exception:
        return build()
    hit = _PLAN_MEMO.get(key)
    if hit is not None:
        result, subs = hit
        try:
            result.sparkSession.sparkContext.applicationId  # session alive?
            # a clearCache()/release_cached() between consumers drops the
            # plan's diamond intermediates — re-register them so shared
            # subtrees still evaluate once
            for s in subs:
                if not _plan_actually_cached(s):
                    _persist(s)
            return result
        except Exception:
            _PLAN_MEMO.pop(key, None)
    # build()'s _persist calls prune the list, so its new frames are
    # found by identity, not by position (``prior`` keeps the ids live)
    prior = list(_CACHED_FRAMES)
    result = build()
    seen = {id(f) for f in prior}
    if len(_PLAN_MEMO) >= _PLAN_MEMO_CAP:
        _PLAN_MEMO.clear()
    _PLAN_MEMO[key] = (result, [f for f in _CACHED_FRAMES if id(f) not in seen])
    return result


# ---------------------------------------------------------------------------
# Shared hash primitives (Spark Column + SQL string emitters)
# ---------------------------------------------------------------------------


def h60_col(c: Column) -> Column:
    """First 60 bits of md5 as BIGINT — bit-identical to h60_sql."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def h60_sql(expr: str) -> str:
    return f"CAST(CONCAT('0x', substr(md5({expr}), 1, 15)) AS BIGINT)"
