"""Session-lifetime cache (persist) tracker.

A few operators legitimately `persist()` an index they probe multiple
times within one query (LSH bucket table, IVF quantized index, the CC
fixpoint generation). Before this module each builder call leaked its
cache into the session forever: a long-lived session (perfbench's
warm-up and timed passes, `tools/verify_local.py` over the whole
registry) runs the same builders again and again, so
`getPersistentRDDs` grew without bound across a 121-query session.

`claim(key, df)` persists `df` and unpersists the PREVIOUS DataFrame
claimed under the same key — at most ONE live cached generation per
logical index, regardless of re-runs. Unpersisting never breaks
correctness (lineage recompute), only cache residency, so a stale
reference to a prior generation still evaluates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_LIVE: dict[str, DataFrame] = {}


def claim(key: str, df: DataFrame) -> DataFrame:
    """Persist `df`; release the superseded generation for `key`.

    ORDER MATTERS: the old generation is unpersisted BEFORE the new
    one registers. A re-run builds an IDENTICAL logical plan, and
    Spark's CacheManager matches cache entries by plan — persisting
    the new first and then unpersisting the old would evict the entry
    BOTH DataFrames share, leaving the "cached" new generation
    uncached (observed: neardup_pagerank's second build planned 159
    exchanges instead of 19; pinned by test_cache_hygiene)."""
    old = _LIVE.pop(key, None)
    if old is not None:
        try:
            old.unpersist()
        except Exception:
            pass  # session of the old generation may already be gone
    new = df.persist()
    _LIVE[key] = new
    return new


def claim_if_large(
    key: str, df: DataFrame, source_paths: list[str],
    min_bytes: int = 256 * 1024 * 1024,
) -> DataFrame:
    """`claim` + materialize, but ONLY when the source data is big
    enough that recomputing the upstream chain per downstream branch
    costs more than the cache write.

    At harness SFs a claim+count inside a query's timed window is pure
    overhead (doc_containment_pairs: lazy 0.75 s vs claimed 1.0-1.9 s
    at sf0.1 — the triple recompute of a 0.6 MB input is cheaper than
    persist+count barrier, measured r5). At 100 TB the trade inverts
    hard: N downstream branches of a lazy plan re-run the whole
    upstream N×. `min_bytes` is the switch: below it, return `df`
    lazy; at/above it, claim + materialize (count) exactly like the
    claim-once rule prescribes."""
    import os

    total = 0
    for p in source_paths:
        try:
            if os.path.isdir(p):
                for root, _dirs, files in os.walk(p):
                    total += sum(
                        os.path.getsize(os.path.join(root, f)) for f in files
                    )
            else:
                total += os.path.getsize(p)
        except OSError:
            # unknown size → assume large (the scale-safe default)
            total += min_bytes
        if total >= min_bytes:
            break
    if total < min_bytes:
        return df
    out = claim(key, df)
    out.count()
    return out


_SHARED: dict[str, DataFrame] = {}


def shared_index(key: str, build) -> DataFrame:
    """Memoized SESSION-LIFETIME shared-index cache.

    Unlike `claim`, a repeat call with a live key returns the EXISTING
    persisted DataFrame without re-running `build()` — the production
    model for deterministic index structures (IVF cell assignment, PQ
    codes, PQ query LUTs, LSH bucket tables): the index is built ONCE
    and every query probes it. `release_all()` deliberately SKIPS this
    tier — the per-op isolation of perfbench and `tools/verify_local.py`
    must not charge every ANN query a fresh index build no deployment
    would pay; `release_shared_all()` drops it (teardown). Keys MUST
    embed sf_dir (a session that verifies sf0.01 then sf0.1 would
    otherwise probe the wrong index).

    `build` is a zero-arg callable so a memo hit skips even the plan
    CONSTRUCTION — the unrolled distance expressions cost real py4j
    driver time before Spark sees them (CLAUDE.md big-expression rule).

    Residency is bounded to ONE scope (the `::{sf_dir}` key suffix) at
    a time: inserting an index for a new sf_dir evicts every entry
    built for another — a session that verifies sf0.01 then sf0.1
    would otherwise hold both SFs' persisted indexes until an explicit
    `release_shared_all()` (ADVICE r7).
    """
    df = _SHARED.get(key)
    if df is not None:
        try:
            alive = not df.sparkSession.sparkContext._jsc.sc().isStopped()
        except Exception:
            alive = False
        if alive:
            return df
        _SHARED.pop(key, None)
    # build FIRST, evict other-scope entries only after success — a
    # throwing build() must not leave the tier emptied for nothing
    # (ADVICE r8: eviction-then-failed-build dropped every live index)
    df = build().persist()
    if "::" in key:
        scope = key.rsplit("::", 1)[1]
        for k in list(_SHARED):
            if "::" in k and k.rsplit("::", 1)[1] != scope:
                old = _SHARED.pop(k)
                try:
                    old.unpersist()
                except Exception:
                    pass
    _SHARED[key] = df
    return df


def shared_live_count() -> int:
    """Number of live shared-index entries (test hook)."""
    return len(_SHARED)


def release_shared_all() -> None:
    """Unpersist and forget every shared-index entry."""
    for key in list(_SHARED):
        old = _SHARED.pop(key)
        try:
            old.unpersist()
        except Exception:
            pass


def release(key: str) -> None:
    """Explicitly unpersist and forget the generation for `key`."""
    old = _LIVE.pop(key, None)
    if old is not None:
        try:
            old.unpersist()
        except Exception:
            pass


def release_all() -> None:
    """Unpersist every tracked generation. Bench/verify isolation
    hook: each live cache entry is another plan tree Spark's
    CacheManager compares against during EVERY subsequent query's
    analysis, so a 141-query session that never releases pays a
    growing per-query planning tax on top of the memory residency."""
    for key in list(_LIVE):
        release(key)


def live_count() -> int:
    """Number of currently-live tracked caches (test hook)."""
    return len(_LIVE)
