"""One shared helper for the materialize-once pattern (lazy
``localCheckpoint``) so every query lane buys its plan-dedup win under
the same, documented contract (ADVICE r18 / VERDICT r18 #7).

Why lanes use it: Spark plans each DataFrame *reference* as its own
physical lineage, so a frame consumed twice re-runs its whole scan
chain twice.  A lazy ``localCheckpoint`` materializes the frame to
executor block storage (memory, spilling to disk) on first use and
every later reference reads the stored blocks — one corpus pass instead
of N.

The trade-offs a caller signs up for (all three are why this is a
deliberate, centralized decision and not a default):

1. **Fault tolerance.** ``localCheckpoint`` TRUNCATES lineage: the
   blocks live only on the executors that computed them (no replicated
   / reliable storage), so losing an executor after materialization
   fails the job instead of recomputing the lost partitions.  That is
   the documented posture for *intra-query* intermediates (same blast
   radius as a lost shuffle-map output without an external shuffle
   service); anything that must survive executor loss belongs in
   ``df.checkpoint()`` against a reliable checkpoint dir, or a real
   table write.
2. **Statistics.** Downstream of the checkpoint the frame plans as
   ``ExistingRDD`` with NO size estimate, so Catalyst will not
   auto-broadcast it (or anything derived from it) and falls back to
   sort-merge joins.  Where a checkpointed frame is provably bounded
   and joins later, the call site must carry an explicit
   ``F.broadcast(...)`` hint (see ``plans/retrieval._mmr_pair_sims``,
   the bm25/rrf ``dfreq`` join-backs) — the planner cannot infer it.
3. **Release is GC-driven.** The blocks are freed by Spark's
   ContextCleaner when the RDD becomes unreachable and a JVM GC runs —
   not at the end of the query.  Within one short-lived
   session (bench / driver / tests) accumulation is bounded and
   harmless; ``tests/test_checkpoint.py::test_materialize_once_blocks_bounded``
   pins that a loop of lane invocations does not grow block-manager
   storage without bound once references drop.  A long-lived service
   should drop frame references promptly (normal Python scoping does).

``eager=False`` everywhere: materialization happens inside the first
action that consumes the frame — inside the timed region of every
bench/oracle invocation, never across runs (no cross-run result
caching; the bench contract forbids it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def materialize_once(df: DataFrame) -> DataFrame:
    """Materialize ``df`` on first use; later references read the stored
    blocks instead of replaying the lineage.  See the module docstring
    for the fault-tolerance / statistics / GC contract."""
    return df.localCheckpoint(eager=False)

