"""Persist lifecycle discipline, and the engine's two pins.

The engine pins intermediate data in exactly two ways:

- ``persist_tracked`` (below) is for RECOMPUTABLE reuse: two consumers
  of one plan share a frame, and a lost or evicted block is simply
  recomputed from its lineage.  It is released per step or per query
  by ``release_tracked``.
- ``localCheckpoint(eager=True)`` is for a SNAPSHOT taken before a
  write to the store the frame's plan reads — e.g. an ingest delta
  anti-joined against the versioned log it is about to append to,
  which then feeds an emptiness probe, the write and a count.  The
  snapshot runs the log-sized plan once and cuts the lineage, so
  nothing after it re-reads the log: a lost block fails the job
  loudly instead of recomputing against log versions that a later
  compaction may have folded away.  (A merged read lists its versions
  when it is built, so a recompute would not see the new version; the
  pin buys one execution and independence from the log's later
  state.)  There is no release handle: Spark's context cleaner drops
  the blocks once the frame is unreachable.  The ingests are
  redelivery-idempotent, so re-running a failed job is the recovery.
  The same mechanism truncates the lineage of the iterative PageRank
  and connected-components rounds.

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
and the package has no concurrent caller: it starts no threads, and
``tests/test_plans.py::test_package_starts_no_threads`` keeps it so.
Concurrent builders sharing the process would release each other's
intermediates — harmless for correctness (lazy plans recompute) but a
silent performance cliff.
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
