"""Loop-invariant build-side caching for iterative join-aggregate
loops (pagerank, dedup_clusters' min-label propagation).

The lesson, stated once: in an iterative loop, lineage
truncation must not erase co-partitioning — ``localCheckpoint`` the
*state* (whose lineage grows per round) but ``persist`` the
*loop-invariant* build side pre-partitioned + sorted on its join key,
so every round's sort-merge join reads it from the InMemoryTableScan
with zero Exchange and zero Sort above it.  ``localCheckpoint``
surfaces UnknownPartitioning, which silently re-shuffles AND re-sorts
the full build side every round (a 25× scale stress measured PageRank
at 3.5× slower from exactly this).

Plan shape pinned in
tests/test_plans.py::test_iterative_loop_reuses_persisted_edge_partitioning
for both the pinned-partition-count and session-default spellings.
"""

from __future__ import annotations

import contextlib
from typing import Iterator

from pyspark.sql import DataFrame


@contextlib.contextmanager
def keyed_edge_cache(
    edges: DataFrame, key: str, num_partitions: int | None = None
) -> Iterator[DataFrame]:
    """Yield ``edges`` hash-partitioned on ``key`` (``num_partitions``
    pins the layout; None keeps the session shuffle-partition
    default — the repartition itself is unconditional, see module
    docstring), sorted within partitions, and persisted
    MEMORY_AND_DISK.  Unpersists on exit — including on failure, so a
    crashed loop cannot pin GBs of edge cache in the session's block
    manager for its remaining lifetime.  Callers must eagerly
    checkpoint any state derived from the cache before the block
    exits (both loops end every exit path on a localCheckpoint)."""
    from pyspark import StorageLevel

    edges = (
        edges.repartition(num_partitions, key)
        if num_partitions
        else edges.repartition(key)
    )
    edges = edges.sortWithinPartitions(key).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    try:
        yield edges
    finally:
        edges.unpersist(blocking=False)
