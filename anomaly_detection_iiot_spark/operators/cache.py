"""Intra-query cache ownership.

Several operators persist an intermediate that must stay cached while
the RETURNED lazy DataFrame is alive (the caller decides when to
materialize), so they cannot unpersist before returning. Instead each
call site releases the cache its PREVIOUS invocation created —
repeated invocations in one session (bench's min-of-3 loop, tests,
a query re-run) hold at most one live cache per site instead of
accumulating persisted RDDs for the session lifetime.

Unpersist is a performance hint, not a correctness event: a
still-referenced old result simply recomputes its lineage.

WHEN to own a cache (measured on a29/a30): an owned cache
pays off only when the frame's consumers sit in DIFFERENT JOBS (a
probe collect plus the final plan, a driver loop's rounds) or in
non-identical subtrees. Consumers that are identical subtrees of ONE
plan are already collapsed by AQE stage reuse at runtime — the static
plan's "N scans" never execute — so a cache there only adds a
materialization barrier plus an InMemoryRelation read (a29 1.54-1.78 s
uncached vs 2.44-2.67 s cached; a30 0.84-1.20 vs 1.19-1.54).
tests/test_plans.py::test_a29_a30_stay_uncached pins the rule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..session import scoped_conf

# site -> the frame its last call persisted
_OWNED_CACHES: dict[str, DataFrame] = {}


def replace_owned_cache(
    site: str, frame: DataFrame, adaptive_partitioning: bool = False
) -> DataFrame:
    """Persist ``frame`` under the ownership key ``site``, releasing the
    cache the previous call with the same key created."""
    prev = _OWNED_CACHES.get(site)
    if prev is not None:
        try:
            prev.unpersist(blocking=False)
        except Exception:
            pass  # session torn down between calls
    # adaptive_partitioning lets AQE size the cached partitions from
    # actual bytes (spark.sql.optimizer.canChangeCachedPlanOutputPartitioning,
    # default false). Without it a cached plan keeps
    # spark.sql.shuffle.partitions, so a KB-scale frame persists as
    # near-empty partitions and every consumer pays that many tasks. The
    # conf is read at persist (CacheManager.cacheQuery) time, so scoping
    # it to persist() is enough although the blocks materialize later in
    # the caller's action. Not the default: coalescing also serializes
    # consumers that use the fan-out (d12's 8-consumer probe: 1.63 s off
    # vs 1.91 s on; d13/c2/d8 also measured better off), so a site opts
    # in only where its A/B won (w25: 7.39 -> 4.69 s).
    key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    with scoped_conf(frame.sparkSession, {key: "true"} if adaptive_partitioning else {}):
        cached = frame.persist()
    _OWNED_CACHES[site] = cached
    return cached


def release_owned_caches(prefix: str, keep: set[str]) -> None:
    """Release every owned cache whose site starts with ``prefix`` and
    is not in ``keep``. Used by call sites whose cache-key SET varies
    with an argument (w25's per-level keys scale with ``depth``): a
    later call with a smaller argument would otherwise leave the
    higher-numbered keys persisted with no owner ever replacing them
    for the rest of the session."""
    for site in [k for k in _OWNED_CACHES if k.startswith(prefix)]:
        if site in keep:
            continue
        prev = _OWNED_CACHES.pop(site)
        try:
            prev.unpersist(blocking=False)
        except Exception:
            pass  # session torn down between calls
