"""Persist lifecycle discipline.

Several query builders persist shared intermediates (shingle tables,
MinHash signatures, PQ codebooks) because two downstream branches of the
same returned plan traverse them; without the persist the lazy DAG
re-derives them per branch (measured 3× runtime on the fuzzy-dedup
family at sf0.1).

A builder cannot unpersist what its returned DataFrame still depends on
— only the CALLER knows when the result has been materialized.  This
module gives that lifetime an owner:

- builders route persists through ``persist_tracked`` instead of bare
  ``.persist()``;
- callers that materialize many queries in one session (bench loops,
  the correctness harness, pipeline steps) call ``release_tracked()``
  after consuming each result to drop the JVM-side storage immediately;
- callers that don't, lose nothing vs before: storage is reclaimed by
  ``spark.catalog.clearCache()`` or session end, and Spark evicts
  MEMORY_AND_DISK blocks under pressure rather than OOMing.

Strong references are intentional: a garbage-collected Python DataFrame
handle does NOT unpersist the JVM blocks, so holding the handle until
``release_tracked`` is the only way to free deterministically.

Scope: the registry is one PROCESS-GLOBAL list with no thread scoping.
That is sound because every caller builds, materializes and releases on
one thread (bench loop, correctness harness, ``Pipeline.run``'s steps)
and the package has no concurrent caller.  Concurrent builders sharing
the process would release each other's intermediates — harmless for
correctness (lazy plans recompute) but a silent performance cliff.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_TRACKED: list[DataFrame] = []


def persist_tracked(df: DataFrame) -> DataFrame:
    """``df.persist()`` + register the handle for ``release_tracked``."""
    df.persist()
    _TRACKED.append(df)
    return df


def release_tracked() -> int:
    """Unpersist every tracked frame (blocking=False); returns how many.
    Safe to call at any time — frames a still-lazy plan depends on are
    simply recomputed if traversed again."""
    n = 0
    while True:
        # pop-then-handle, no check-then-pop (r10 review): list.pop() is
        # atomic under the GIL, so even a second releaser racing this
        # loop ends it with IndexError here rather than raising out of
        # the caller
        try:
            df = _TRACKED.pop()
        except IndexError:
            break
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass  # session already stopped; nothing to free
    return n
