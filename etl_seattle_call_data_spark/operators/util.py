"""Shared operator utilities."""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel


def spread(df: DataFrame) -> DataFrame:
    """Small-input guard before CPU-heavy per-row ops (tokenize/explode,
    pair-join dot products): a table that arrives in a handful of parquet
    splits would otherwise run on a handful of tasks (observed: 1 task
    for a single-file table, serializing the whole stage). At real scale
    the scan has natural parallelism and this is a no-op."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        # file count is a plan-side metadata probe; df.rdd.getNumPartitions()
        # would build (and translate) the whole RDD plan per invocation
        n_input = len(df.inputFiles())
    except Exception:
        return df.repartition(target)
    if 0 < n_input < target:
        return df.repartition(target)
    return df


def barrier(df: DataFrame) -> DataFrame:
    """Hold ``df`` for the rest of the plan it feeds: the engine's one
    within-plan materialization point. Catalyst does not dedupe common
    subtrees, so a frame read by 2+ plan branches (a count and a join,
    a self-join's two arms, a loop's next round) re-evaluates its
    upstream once per branch unless it is held. The policy, in one
    place:

    * ``localCheckpoint``, not ``persist``: chained persists form
      cache-on-cache entries, and Spark 4.1's lazy AQE cache
      materialization (``TableCacheQueryStage``) can rebuild a
      dependent entry on an AQE thread with no active session — an NPE
      first observed at sf1 (``CacheManager.tryRebuildCacheEntry``);
    * lazy (``eager=False``): the first action that reads the frame
      materializes it, so building a plan runs no job;
    * it truncates lineage, so iterative operators keep a
      constant-depth plan per round;
    * its blocks are freed by ContextCleaner once the driver drops the
      last reference to the frame, not by ``unpersist`` and not by
      ``clear_caches`` (bench.py's periodic ``gc.collect()`` exists for
      this);
    * its blocks live in executor storage and are not replicated, so
      losing an executor fails the query (VERDICT r11 item 3)."""
    return df.localCheckpoint(eager=False)


@contextmanager
def persisted(df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK_DESER):
    """Persist ``df`` at ``level`` for the body of a ``with`` block and
    release it on exit, also when the body raises. For a frame that
    several writers or actions read inside one call (the default level
    is ``DataFrame.persist()``'s own)."""
    held = df.persist(level)
    try:
        yield held
    finally:
        held.unpersist()


# key -> (token, frame): the cross-invocation registry that cache_swap
# and cache_memo share. cache_swap entries carry _NO_TOKEN, which no
# cache_memo token equals.
_registry: dict[str, tuple[object, DataFrame]] = {}
_NO_TOKEN = object()


def cache_swap(key: str, df: DataFrame):
    """Persist ``df`` (MEMORY_AND_DISK), releasing whatever the same
    operator persisted on a previous invocation. Operators that persist
    an intermediate (e.g. the dedup shingle set) are re-invoked with
    fresh DataFrames every run; without this the executor cache
    accumulates one dead copy per invocation in a long-lived session.

    If the incoming plan is semantically identical to the cached one
    (``sameSemantics`` — same logical plan modulo cosmetics), the
    already-materialized cache is returned instead of being torn down
    and rebuilt: repeated invocations of the same operator on the same
    input (a re-run query, two operators sharing a sub-pipeline) hit
    warm storage rather than re-tokenizing/re-joining the corpus. This
    is the engine's one-generation materialized-intermediate reuse; the
    source relations are files, so identical plans read identical data
    within a session. Caveat: anything that rewrites those files IN
    PLACE mid-session (compact_parquet / cluster_parquet, an external
    writer) invalidates that premise — those paths call
    ``refreshByPath``, but a semantically-identical cache_swap entry
    built pre-rewrite would still serve old data; call ``clear_caches()``
    after rewriting a table an operator has cached.

    Multi-tenant caveat: the key registry is process-global, keyed by
    operator-chosen strings. Two tenants of one long-lived session using
    the same key alternately defeat the reuse (each call evicts the
    other's entry — correct, just cold); worse, an operator that bakes
    NO distinguishing input into its key could be served a same-key
    sibling's cache only if the plans are ``sameSemantics`` — i.e. the
    same computation — so correctness holds, but key hygiene (prefix
    keys with the operator + input identity, as dedup/similarity do)
    is what keeps hit rates honest in shared sessions."""
    _, old = _registry.get(key, (_NO_TOKEN, None))
    if old is not None:
        try:
            if df.sameSemantics(old):
                return old
        except Exception:
            pass  # cross-session frames etc. — fall through to swap
        old.unpersist(False)
    held = df.persist(StorageLevel.MEMORY_AND_DISK)
    _registry[key] = (_NO_TOKEN, held)
    return held


def clear_caches(table_plans: bool = True) -> None:
    """Release every registry-held persisted intermediate and forget the
    registry. Call after rewriting source files in place (compaction,
    clustering, external overwrite): cache_swap's sameSemantics reuse
    assumes within-session immutability of the underlying files, and a
    pre-rewrite cache would otherwise keep serving old data.

    ``table_plans=False`` keeps sources.registry's memoized table PLAN
    objects: they pin no executor blocks and no rows, so periodic
    GC-pressure evictions (bench.py's every-40-queries sweep) don't
    need to drop them — only the after-an-in-place-rewrite contract
    (the default) does."""
    for _, df in _registry.values():
        try:
            df.unpersist(False)
        except Exception:
            pass  # session may already be stopped
    _registry.clear()
    if table_plans:
        # Table PLAN memos (sources.registry) rest on the same files-are-
        # immutable premise — drop them under the same contract. Imported
        # lazily: sources must stay importable without operators and
        # vice versa.
        from etl_seattle_call_data_spark.sources.registry import clear_table_memo

        clear_table_memo()


def cache_memo(key: str, token: object, builder):
    """Token-keyed variant of ``cache_swap`` that skips even the PLAN
    BUILD on a repeat hit: if ``token`` (an explicit fingerprint of every
    builder input — path, params) matches the last invocation's, the
    cached frame is returned without calling ``builder``.

    ``cache_swap``'s sameSemantics reuse still has to construct and
    canonicalize the candidate plan to compare it — for wide expression
    trees (SimHash's 60-aggregate plan) that alone costs ~2s per
    invocation. Sources are static files within a session, so an
    explicit token is a sound stand-in. Use cache_swap when the token
    would be awkward to state; use this where plan construction itself
    is the cost."""
    held_token, held = _registry.get(key, (_NO_TOKEN, None))
    if held_token == token:
        return held
    df = cache_swap(key, builder())
    _registry[key] = (token, df)
    return df
