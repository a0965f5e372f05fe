"""Distributed graph algorithms over edge-list DataFrames.

The reference has no graph operators (SURVEY.md §0); this extends the
engine's iterative-algorithm family (k-means in similarity.py,
connected components in dedup.py) with PageRank — the canonical
"repeat a join-aggregate until converged" workload, and the shape a
link-analysis pass over a 100 TB web-crawl corpus takes.

Scale notes: each iteration is one join (rank ⋈ edges, keyed on the
source node — both sides hash-partitioned the same way, so AQE reuses
the exchange across iterations) plus one map-side-combined aggregate
keyed on the destination.  Rank state is O(nodes), never collected;
``localCheckpoint`` truncates the lineage each round so the plan
doesn't grow with iteration count (same discipline as
dedup.connected_components).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def symmetrize(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Undirected → directed: emit each edge in both directions.

    Spelled as a single-pass explode, NOT ``fwd.union(rev)``: a union
    of two selects scans (and recomputes) the upstream edge pipeline
    twice — when the input is a derived graph (a pair build + distinct,
    as in q_pagerank) that doubles the most expensive stage.  The
    explode doubles rows map-side in one pass over one computation."""
    return edges.select(
        F.explode(
            F.array(
                F.struct(
                    F.col(src).alias("src"), F.col(dst).alias("dst")
                ),
                F.struct(
                    F.col(dst).alias("src"), F.col(src).alias("dst")
                ),
            )
        ).alias("_e")
    ).select("_e.src", "_e.dst")


def cooccurrence_pairs(
    df: DataFrame,
    group_col: str,
    item_col: str,
    *,
    max_group_size: int | None = 100_000,
    on_oversize: str = "error",
) -> DataFrame:
    """All unordered item pairs co-occurring in a group: one output row
    per (group, a < b) occurrence — the co-purchase / token-
    co-occurrence edge builder shared by q_copurchase, q_pagerank and
    q_triangle_count.  Items are deduplicated within each group
    (collect_set), so a row per pair per group comes out exactly like
    ``SELECT DISTINCT group, item`` self-joined on the group key with
    ``a.item < b.item``.

    Implemented as ONE shuffle (the group-key hash-agg) followed by an
    array-local higher-order expansion — measured ~2× faster than the
    equivalent self-join at sf0.1, which shuffles the (group, item)
    table twice and builds a join hash table per task.  Each group's
    item set is buffered as ONE array row, so group sizes must be
    bounded; ``max_group_size`` ENFORCES that contract instead of
    leaving it to the docstring (a pathological 10M-item group would
    otherwise OOM a task silently):

    * ``on_oversize="error"`` (default): any group over the cap fails
      the job with a descriptive error naming the group — the guard is
      a ``raise_error`` branch inside the kept projection (cannot be
      pruned by Catalyst), zero extra exchanges, default plan shape
      identical for in-contract data.
    * ``on_oversize="selfjoin"``: oversized groups are routed through
      the streaming self-join form (no array buffering — the pair
      blow-up streams out of the join) while in-contract groups keep
      the fast array expansion; output is the union, semantically
      identical.  Costs one extra shuffle pass over the (group, item)
      table, so it is the opt-in for genuinely skewed group-size
      distributions at open scale.
    * ``max_group_size=None`` disables the guard (caller has already
      capped/salted upstream).

    The ``error`` default is DELIBERATE: an
    oversized group is almost always a data bug (a null/sentinel group
    key collecting millions of items), and silently degrading it to
    the self-join path would stream out k²/2 ≈ 10¹⁰ pairs for a 100k+
    group — a runaway job is worse than a loud failure naming the
    group.  Callers with a legitimately heavy-tailed group-size
    distribution opt into ``selfjoin`` explicitly, accepting the
    quadratic pair volume knowingly.

    The 100k default bounds the buffered array to a few MB; the pair
    EXPANSION (k²/2 rows) streams out of ``explode`` without
    materializing, so the array row is the only per-group memory."""
    if on_oversize not in ("error", "selfjoin"):
        raise ValueError(f"on_oversize must be error|selfjoin: {on_oversize}")
    from tmp_parquet_merge_spark.operators.dedup import spread_scan

    # parallelism floor for deficient scans (no-op at scale; see
    # dedup.spread_scan), keyed by the group
    # so the collect_set aggregate's clustering reuses the exchange;
    # sort_array(collect_set) is layout-invariant
    df = spread_scan(df, group_col)
    sets = df.groupBy(group_col).agg(
        F.sort_array(F.collect_set(item_col)).alias("_items")
    )
    if max_group_size is not None and on_oversize == "error":
        # raise_error lives inside the _items expression consumed by
        # the explode, so column pruning cannot drop the check
        msg = F.concat(
            F.lit(
                "cooccurrence_pairs: group exceeds "
                f"max_group_size={max_group_size}: "
            ),
            F.col(group_col).cast("string"),
            F.lit(" has "),
            F.size("_items").cast("string"),
            F.lit(" items; cap/salt upstream or use on_oversize='selfjoin'"),
        )
        sets = sets.select(
            F.col(group_col),
            F.when(F.size("_items") <= max_group_size, F.col("_items"))
            .otherwise(F.raise_error(msg))
            .alias("_items"),
        )
    small = sets
    if max_group_size is not None and on_oversize == "selfjoin":
        small = sets.filter(F.size("_items") <= max_group_size)
    pairs = (
        small.select(F.explode("_items").alias("_a"), "_items")
        .select(
            "_a",
            F.explode(F.expr("filter(_items, x -> x > _a)")).alias("_b"),
        )
        .select(F.col("_a").alias("a"), F.col("_b").alias("b"))
    )
    if max_group_size is not None and on_oversize == "selfjoin":
        big_groups = sets.filter(
            F.size("_items") > max_group_size
        ).select(group_col)
        big_items = df.join(big_groups, group_col, "left_semi").select(
            group_col, item_col
        ).distinct()
        x, y = big_items.alias("_x"), big_items.alias("_y")
        big_pairs = x.join(
            y,
            (F.col(f"_x.{group_col}") == F.col(f"_y.{group_col}"))
            & (F.col(f"_x.{item_col}") < F.col(f"_y.{item_col}")),
        ).select(
            F.col(f"_x.{item_col}").alias("a"),
            F.col(f"_y.{item_col}").alias("b"),
        )
        pairs = pairs.unionByName(big_pairs)
    return pairs


def pagerank(
    edges: DataFrame,
    *,
    damping: float = 0.85,
    max_iter: int = 10,
    tol: float = 1e-6,
    round_to: int = 6,
    check_every: int = 1,
    checkpoint_every: int = 1,
    num_partitions: int | None = None,
    symmetric: bool = False,
    broadcast_state_max_nodes: int = 100_000,
) -> DataFrame:
    """PageRank over a directed edge list (columns ``src``, ``dst``).

    Returns (node, rank, n_iter) with ranks summing to ~1.  Dangling
    nodes (no out-edges) redistribute their mass uniformly each round —
    the standard formulation, kept exactly so the NumPy reference in
    tests/test_graph.py matches to float tolerance.

    Every round: contribs = rank/out_deg joined through edges (one
    shuffle on src, one agg shuffle on dst — both reuse the same hash
    partitioning).  Iterative-loop economics: the dangling mass rides
    the PLAN as a broadcast 1-row aggregate (crossJoin), not a driver
    action — and is skipped entirely when a one-time upfront probe
    shows the graph has no dangling nodes (symmetrized graphs never
    do), so a round costs exactly ONE job (the eager localCheckpoint
    that also truncates lineage) plus, every ``check_every`` rounds, a
    scalar L1-delta read for the ``tol`` early exit.

    The edge list is hash-partitioned on ``src``, sorted within
    partitions, and PERSISTED (MEMORY_AND_DISK) rather than
    localCheckpointed: a checkpointed RDD surfaces as
    ``UnknownPartitioning``, so every round's sort-merge join was
    re-shuffling AND re-sorting the full edge list — the dominant
    cost at scale (10 rounds × a 60M-edge exchange in the 25× stress).
    ``InMemoryTableScan`` preserves the cached plan's partitioning
    and ordering, so each round's join does ZERO work on the edges
    side: only the (small) state exchanges per round.  25× re-measure:
    the 10-round loop fell from ~110 s to ~31 s (SCALE.md).
    The cache is released (unpersist) before returning — the final
    state is eagerly checkpointed, so the result does not depend on
    it.

    The checkpointed state carries the previous round's rank as a
    ``prev`` column, so the L1-delta read is a scan-aggregate over the
    already-materialized state — NOT a state⋈new_state join (that join
    roughly doubled per-check cost).  ``num_partitions`` pins a fixed
    hash partitioning on the node key for both the edge list (by
    ``src``) and the state (by ``node``): every round's plans then
    shuffle on the same layout, and the only real data movement left is
    the contribution flow src→dst.  Size it like any shuffle: ~128 MB
    of state per partition on a cluster (None keeps the session's
    shuffle-partition default).

    ``checkpoint_every`` batches N rounds of join-aggregate into one
    eager job before truncating lineage (the plan then holds ≤ N rounds
    — still bounded): on tiny-state graphs where per-JOB scheduling
    overhead dominates, 2 halves the job count.  Convergence checks
    only run on checkpointed rounds, so ``check_every`` is effectively
    rounded up to a multiple of it.  Ranks are bit-identical for any
    value — it is a physical knob like ``num_partitions``.

    ``symmetric=True`` (guide §2.4 "remove shuffles outright"): the
    caller asserts every edge is present in
    both directions (q_pagerank's :func:`symmetrize` output).  Then
    the node set IS the out-degree key set — the nodes union+distinct
    pass over the edge cache, the left-join that attaches degrees to
    possibly-degree-less nodes, and the dangling probe job all
    disappear (a symmetric graph cannot have a node without
    out-edges).  Results are identical by construction; the generic
    default keeps the full dangling-aware path.  WARNING:
    this is an UNCHECKED caller assertion — on a graph that is NOT
    symmetric, nodes with only in-edges are silently DROPPED from the
    output (they never appear in the out-degree key set), ``n_nodes``
    is undercounted, and no error is raised.  Pass it only for edge
    lists produced by :func:`symmetrize` (or provably closed under
    reversal); anything else must use the default path.

    ``broadcast_state_max_nodes`` (guide §3.1 / §2.4): when the
    driver-known node count is at or under this gate, each round's
    two state joins run as broadcast-hash joins — the rank state
    (~32 B/node) broadcasts into the contributions join, so
    the persisted edge cache streams through with NO exchange and NO
    sort on either side, and the contributions aggregate broadcasts
    back into the state update.  A round then pays exactly ONE small
    exchange (the dst-keyed aggregate) instead of two state exchanges
    + a state repartition.  Per-round partial-aggregation layout is
    governed by the edge cache's pinned partitioning in BOTH paths, so
    inflow sums accumulate in the same order and ranks stay
    bit-identical (oracle-verified at every bundled tier).  The gate
    is a node-count bound (~3 MB broadcast at the default — the
    broadcast repeats EVERY round, so the gate must sit where one
    round's broadcast is clearly cheaper than its two state exchanges;
    the 25x-replica 500k-node graph measured better on the sort-merge
    path and stays on it), NOT a
    cores-derived constant: above it — any genuinely large graph —
    the sort-merge path over the pre-partitioned cache is unchanged.
    The broadcast path checkpoints every round (a lazily-stacked
    broadcast would re-execute prior rounds inside the broadcast
    build), so ``checkpoint_every`` applies only above the gate.

    Broadcast hygiene: each
    broadcast-path round builds two fresh ≤~3 MB broadcast relations
    (the gate bounds state bytes) that are only reclaimed when the JVM
    collects the superseded round's plan and the ContextCleaner
    releases the blocks.  At the default ``max_iter=10`` the transient
    is ≤ ~60 MB — noise.  A tol-driven run with ``max_iter≈100`` would
    otherwise stack ~0.5 GB of dead broadcast blocks between GCs, so
    the loop forces a JVM GC every 16 broadcast rounds — bounding live
    broadcast memory at ~100 MB regardless of iteration count, off the
    hot path (never fires at the default), and with zero effect on
    ranks (memory-only).
    """
    from tmp_parquet_merge_spark.operators._iter_cache import keyed_edge_cache

    # materialize the edge list once — callers often pass a derived
    # graph (e.g. a self-join pair build) that must not be recomputed
    # in every iteration's join.  keyed_edge_cache persists it
    # pre-partitioned + sorted on the join key (NOT localCheckpoint:
    # that erases partitioning) so the cached scan satisfies the
    # join's distribution AND ordering every round, and unpersists on
    # any exit; see operators/_iter_cache.py for the full rationale.
    with keyed_edge_cache(edges, "src", num_partitions) as edges:
        if symmetric:
            # every node has out-edges: the degree table IS the node
            # set — no union+distinct pass, no degree left-join, and
            # no dangling probe job (deg > 0 by construction)
            out_deg = edges.groupBy("src").agg(
                F.count(F.lit(1)).alias("deg")
            )
            state = out_deg.select(
                F.col("src").alias("node"), "deg"
            ).localCheckpoint()
            n_nodes = state.count()
            state = state.select(
                "node",
                "deg",
                F.lit(1.0 / n_nodes).alias("rank"),
                F.lit(0.0).alias("prev"),
            )
            if num_partitions:
                state = state.repartition(num_partitions, "node")
            state = state.localCheckpoint()
            has_dangling = False
        else:
            nodes = (
                edges.select(F.col("src").alias("node"))
                .unionByName(edges.select(F.col("dst").alias("node")))
                .distinct()
            )
            n_nodes = nodes.count()
            out_deg = edges.groupBy("src").agg(
                F.count(F.lit(1)).alias("deg")
            )
            # node, deg (0 for dangling), rank, prev (one round back)
            state = (
                nodes.join(out_deg, nodes.node == out_deg.src, "left")
                .select("node", F.coalesce("deg", F.lit(0)).alias("deg"))
                .withColumn("rank", F.lit(1.0 / n_nodes))
                .withColumn("prev", F.lit(0.0))
            )
            if num_partitions:
                state = state.repartition(num_partitions, "node")
            state = state.localCheckpoint()
            has_dangling = (
                state.filter(F.col("deg") == 0).limit(1).count() > 0
            )
        # the small-state broadcast path removes both per-round state
        # exchanges (see docstring); partial inflow sums stay laid out
        # by the edge cache's partitioning in both paths, so ranks are
        # bit-identical across the gate
        bcast = n_nodes <= broadcast_state_max_nodes
        it = 0
        for it in range(1, max_iter + 1):
            live = state.filter(F.col("deg") > 0)
            contribs = (
                (F.broadcast(live) if bcast else live)
                .join(edges, live.node == edges.src)
                .select(
                    F.col("dst").alias("node"),
                    (F.col("rank") / F.col("deg")).alias("c"),
                )
                .groupBy("node")
                .agg(F.sum("c").alias("inflow"))
            )
            rank_expr = F.lit((1.0 - damping) / n_nodes) + F.lit(
                damping
            ) * F.coalesce("inflow", F.lit(0.0))
            joined = state.select(
                "node", "deg", F.col("rank").alias("prev")
            ).join(
                F.broadcast(contribs) if bcast else contribs,
                "node",
                "left",
            )
            if has_dangling:
                dmass = state.filter(F.col("deg") == 0).agg(
                    F.sum("rank").alias("_dmass")
                )
                joined = joined.crossJoin(F.broadcast(dmass))
                rank_expr = (
                    rank_expr + F.lit(damping) * F.col("_dmass") / n_nodes
                )
            new_state = joined.select(
                "node", "deg", rank_expr.alias("rank"), "prev"
            )
            if not bcast and num_partitions:
                new_state = new_state.repartition(num_partitions, "node")
            if bcast and it % 16 == 0:
                # reclaim superseded per-round broadcast blocks (see
                # docstring "Broadcast hygiene"); never fires at the
                # default max_iter=10
                try:
                    edges.sparkSession.sparkContext._jvm.System.gc()
                except Exception:
                    pass
            if bcast or it % checkpoint_every == 0 or it == max_iter:
                state = new_state.localCheckpoint()
                # convergence-check cadence is UNCHANGED by the
                # broadcast path's extra checkpoints: checks still run
                # only on checkpoint_every-aligned rounds, so tol>0
                # callers exit on exactly the same iteration either
                # side of the broadcast gate
                if (
                    tol > 0
                    and (it % checkpoint_every == 0 or it == max_iter)
                    and (it % check_every == 0 or it == max_iter)
                ):
                    delta = state.agg(
                        F.sum(F.abs(F.col("rank") - F.col("prev")))
                    ).first()[0]
                    if delta < tol:
                        break
            else:
                state = new_state
    # every loop exit passes through an eager checkpoint (it ==
    # max_iter or the tol break), so the result no longer needs the
    # edge cache the with-block just released.
    return state.select(
        "node",
        F.round("rank", round_to).alias("rank"),
        F.lit(it).alias("n_iter"),
    )
