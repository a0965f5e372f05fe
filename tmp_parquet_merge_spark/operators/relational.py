"""Relational operators Spark lacks as single built-ins.

The reference slice has no relational operators at all (SURVEY.md §0 —
verified absence of join/group/sort/window); everything here is
Spark-first composition, designed for 100 TB:

  * as-of join: the union-merge formulation — ONE shuffle on the key,
    no row explosion, no driver loops.  The naive alternative
    (inequality join + groupBy max) explodes to |L|·|R| per key.
  * range join: broadcast the (small) band table so the big side never
    shuffles.
  * top-k: orderBy(...).limit(k) — Spark plans TakeOrderedAndProject,
    a per-partition heap + driver merge, not a global sort.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    left_time: str,
    right_time: str,
    right_values: Sequence[str],
    *,
    direction: str = "backward",
) -> DataFrame:
    """As-of join: for each left row, the latest right row with
    ``right_time <= left_time`` (direction="backward"), or the earliest
    right row with ``right_time >= left_time`` (direction="forward"),
    sharing the key.

    Implementation: tag both sides, union, then a single window
    ``partitionBy(key).orderBy(time, side)`` carrying the right side's
    row forward as ONE STRUCT with ``last(..., ignorenulls=True)``.
    The struct is what makes the carry all-or-nothing: a per-column
    carry would TEAR a matched right row that contains real NULL
    values (each column independently falling back to an older right
    row), while the struct is non-NULL for every right row — even one
    whose values are all NULL — and NULL only for left padding rows.
    Cost: one shuffle of |L|+|R| rows on the key — scale-safe for
    100 TB because nothing is ever multiplied out per key.  Ties
    (equal timestamps) order the right row first, so a right row at
    exactly left_time matches in both directions, like DuckDB/pandas
    ASOF semantics.  Forward is the same plan with the time (and tie)
    sort descending — "earliest at-or-after" is "latest at-or-before"
    under a reversed clock.  Equality-join ASOF semantics hold at the
    edges: a NULL join key or NULL left time matches nothing (SQL
    ``right_time <= left_time ON key = key`` is never true there), so
    those left rows come back with NULL right values; a RIGHT row with
    a NULL time likewise matches nothing (its struct is never built —
    without that guard the backward sort's NULLS-FIRST placement would
    carry it into every left row with no real at-or-before
    match).  Ties among right rows sharing (key, time) resolve
    deterministically to the greatest ``right_values`` tuple (the
    struct is the final window sort key); without a total order the
    carried row would depend on shuffle order and flake cross-run
    hash comparison.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be 'backward' or 'forward', got {direction!r}")
    keys = [on] if isinstance(on, str) else list(on)

    lcols = left.columns
    right_sel = keys + [right_time] + list(right_values)
    r = right.select(*right_sel).withColumn("__side", F.lit(0))
    r = r.withColumnRenamed(right_time, "__t")
    l = left.withColumn("__side", F.lit(1)).withColumn("__t", F.col(left_time))
    for c in right_values:
        if c in l.columns:
            raise ValueError(f"column collision on {c!r}; rename right_values first")
        l = l.withColumn(c, F.lit(None).cast(dict(r.dtypes)[c]))
    # align column order for union
    ordered = keys + ["__t", "__side"] + list(right_values)
    lpad = l.select(*ordered, *[c for c in lcols if c not in ordered])
    rpad = r.select(*ordered, *[F.lit(None).cast(dict(l.dtypes)[c]).alias(c) for c in lcols if c not in ordered])
    u = lpad.unionByName(rpad)
    # right rows carry their values as one struct (NULL on left rows:
    # the when() has no otherwise, so padding rows contribute nothing
    # to the ignorenulls carry)
    u = u.withColumn(
        "__rv",
        F.when(
            (F.col("__side") == 0) & F.col("__t").isNotNull(),
            F.struct(*right_values),
        ),
    )

    t_order = F.col("__t").asc() if direction == "backward" else F.col("__t").desc()
    w = (
        Window.partitionBy(*keys)
        .orderBy(t_order, F.col("__side").asc(), F.col("__rv").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # NULL key / NULL left time: equality-join ASOF never matches
    # there (and the forward sort would otherwise scan NULL-time left
    # rows AFTER every right row, silently matching the earliest one)
    valid = F.col("__t").isNotNull()
    for kc in keys:
        valid = valid & F.col(kc).isNotNull()
    filled = u.select(
        *keys,
        "__t",
        "__side",
        F.when(valid, F.last("__rv", ignorenulls=True).over(w)).alias("__m"),
        *[c for c in lcols if c not in ordered],
    )
    out = filled.filter(F.col("__side") == 1).select(
        *keys,
        *[F.col(f"__m.{c}").alias(c) for c in right_values],
        *[c for c in lcols if c not in ordered],
    )
    return out


def range_join(
    fact: DataFrame,
    bands: DataFrame,
    value: str | Column,
    lo: str = "lo",
    hi: str = "hi",
    how: str = "inner",
) -> DataFrame:
    """Join a fact table to interval bands: lo <= value < hi.

    Bands are broadcast (dimension-sized by construction), so the fact
    side streams through a BroadcastNestedLoopJoin — no shuffle of the
    big side, which is the only viable plan at 100 TB fact scale.
    """
    v = F.col(value) if isinstance(value, str) else value
    cond = (v >= F.col(lo)) & (v < F.col(hi))
    return fact.join(F.broadcast(bands), cond, how)


def top_k(
    df: DataFrame, order_by: Sequence[Column], k: int
) -> DataFrame:
    """Global top-k.  Spark compiles orderBy+limit to
    TakeOrderedAndProject (per-partition heaps, driver merge of k·P
    rows) — no global sort, so k=10 over 100 TB is cheap.
    Callers must pass a total order (include a unique tiebreaker) for
    deterministic results."""
    return df.orderBy(*order_by).limit(k)


def grouped_top_k(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    k: int,
) -> DataFrame:
    """Top-k per group via row_number window — one shuffle on the group
    key; with many groups this parallelizes across executors."""
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    *,
    salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: the (large, skewed) left side gets a
    random salt in [0, salt); the right side is replicated salt× via a
    literal salt array explode.  A hot key's rows then spread over
    ``salt`` reducers instead of melting one.

    AQE's skew-join split handles moderate skew automatically; explicit
    salting is the escape hatch for pathological keys (a null-heavy
    foreign key, a celebrity user) where one key exceeds a single
    executor.  For inner/left joins the semantics are identical to the
    plain join — asserted in tests.  Right/full-outer joins are
    rejected: the replicated right side would emit every unmatched
    right key ``salt`` times.

    The salt is ``monotonically_increasing_id() % salt`` — a
    round-robin over each partition's row positions — NOT a hash of
    the row: a row hash collapses byte-identical rows of a hot key
    (the exact pathological case salting exists for — a null-heavy FK
    with constant payload) onto ONE salt value, i.e. one reducer, and
    ``xxhash64`` additionally rejects MapType columns.  The id
    expression is nondeterministic to Catalyst, which is safe here
    twice over: the join RESULT is invariant to which salt a left row
    draws (the right side carries every salt value), and Spark rolls
    back all consumers of an indeterminate stage on shuffle-fetch
    failure instead of mixing attempts.
    """
    if how not in ("inner", "left", "leftouter", "left_outer"):
        raise ValueError(
            f"salted_join supports inner/left joins only, got how={how!r}: "
            "the salt-replicated right side would duplicate unmatched "
            "right rows under right/full outer semantics"
        )
    l = left.withColumn(
        "__salt",
        F.pmod(F.monotonically_increasing_id(), F.lit(salt)).cast("int"),
    )
    r = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    joined = l.join(
        r,
        (l[left_key] == r[right_key]) & (l["__salt"] == r["__salt"]),
        how,
    )
    return joined.drop("__salt")


def funnel(
    events: DataFrame,
    stages: list[str],
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered conversion funnel: users who performed stage k strictly
    after their first completion of stage k-1, one row per stage with
    the surviving user count.

    Plan: per stage a filtered hash-agg (min ts per user) joined to the
    previous stage's survivors — k narrow shuffles on user_id, each
    input already pruned by the stage predicate before it shuffles.
    The survivor sets shrink monotonically, so later stages are
    progressively cheaper; no window over the full event stream is
    ever needed.  Each stage's survivor relation is localCheckpoint'd
    (the shared-subplan discipline): the final union references stage
    i from branches i..k−1, and Spark does NOT dedupe common subplans
    across union branches — without the checkpoint the plan re-scans
    the event table and re-runs ~k(k+1)/2 stage aggregations instead
    of k.
    """
    if not stages:
        raise ValueError("funnel needs at least one stage")
    cur = None
    counts = []
    for i, stage in enumerate(stages):
        e = events.filter(F.col(type_col) == stage)
        if cur is None:
            cur = e.groupBy(user_col).agg(F.min(ts_col).alias("__t"))
        else:
            cur = (
                e.join(cur.select(user_col, "__t"), user_col)
                .filter(F.col(ts_col) > F.col("__t"))
                .groupBy(user_col)
                .agg(F.min(ts_col).alias("__t"))
            )
        cur = cur.localCheckpoint(eager=False)
        label = " > ".join(stages[: i + 1])
        counts.append(
            cur.agg(F.count(F.lit(1)).alias("n_users")).select(
                F.lit(label).alias("stage"), "n_users"
            )
        )
    out = counts[0]
    for c in counts[1:]:
        out = out.unionAll(c)
    return out


def upsert(
    target: DataFrame,
    updates: DataFrame,
    keys: list[str],
    *,
    on_duplicate: str = "error",
) -> DataFrame:
    """MERGE / CDC-apply without a table format: rows from ``updates``
    replace same-key rows in ``target``; unmatched update rows insert.

    Full-outer join on the key, then a row-wise winner pick (update
    side wins whenever an update row joined, detected via a constant
    marker column — per-column COALESCE would corrupt legitimately-NULL
    update values, and testing the key for NULL would misclassify a
    NULL-keyed update row).  One shuffle per side on
    the key; at lake scale the same plan runs per partition after
    partition pruning on the key range, which is how a table-format
    MERGE schedules it too.

    ``updates`` must be key-unique: two update rows for one key would
    FAN OUT the output (two rows for that key — the table grows on
    every apply).  Like a table-format MERGE ("multiple source rows
    matched"), ``on_duplicate="error"`` (default) fails loudly via an
    unprunable branch in the winner pick; pre-reduce a multi-change
    CDC feed to last-per-key (e.g. cdc_latest) first, or pass
    ``on_duplicate="allow"`` to keep the raw join semantics.
    """
    if on_duplicate not in ("error", "allow"):
        raise ValueError(f"on_duplicate must be error|allow: {on_duplicate}")
    # a target column absent from the updates schema has no defined
    # MERGE semantics here: silently NULLing it on matched rows (the
    # old behavior) is data destruction on every partial-schema CDC
    # apply — demand an explicit projection instead
    missing = [
        c for c in target.columns
        if c not in keys and c not in updates.columns
    ]
    if missing:
        raise ValueError(
            f"upsert: updates schema is missing target columns {missing}; "
            "select them (carrying the old value) or drop them from the "
            "target projection first"
        )
    # string-qualified references survive self-joins (updates often
    # derive from the target, which trips Spark's ambiguity check on
    # DataFrame-object column references)
    t = target.alias("__t")
    # non-null marker: the join is eqNullSafe (NULL keys match NULL
    # keys), so "matched" must not be derived from key nullness — an
    # update row whose key IS NULL still matches and must win
    u = updates.withColumn("__upd", F.lit(True))
    if on_duplicate == "error":
        # per-key update count rides the updates side (one shuffle of
        # the SMALL side on the same keys the join needs anyway)
        u = u.withColumn(
            "__nk",
            F.count(F.lit(1)).over(Window.partitionBy(*keys)),
        )
    u = u.alias("__u")

    def tc(name):
        return F.col(f"__t.{name}")

    def uc(name):
        return F.col(f"__u.{name}")

    cond = None
    for k in keys:
        c = tc(k).eqNullSafe(uc(k))
        cond = c if cond is None else cond & c
    matched = uc("__upd").isNotNull()
    if on_duplicate == "error":
        # fused into the first output column so no optimizer rule can
        # prune it (the cooccurrence-guard pattern): any key with >1
        # update rows fails the job instead of silently fanning out
        matched = F.when(
            F.coalesce(uc("__nk"), F.lit(1)) > 1,
            F.raise_error(
                F.concat(
                    F.lit("upsert: multiple update rows matched key "),
                    F.concat_ws(",", *[uc(k).cast("string") for k in keys]),
                    F.lit(" (pre-reduce the feed or on_duplicate='allow')"),
                )
            ).cast("boolean"),
        ).otherwise(matched)
    non_key = [c for c in target.columns if c not in keys]
    out_cols = []
    for name in target.columns:
        if name in keys:
            kcol = F.coalesce(uc(name), tc(name))
            if on_duplicate == "error" and not non_key:
                # keys-only target: no non-key column exists to host
                # the duplicate guard, so it would never be evaluated
                # — fuse it into the key columns instead.
                # `matched` embeds the raise_error branch; the
                # tautological when() is value-neutral (kcol either
                # way) and Catalyst does not fold it (test-pinned).
                kcol = F.when(matched | ~matched, kcol)
            out_cols.append(kcol.alias(name))
        else:
            out_cols.append(
                F.when(matched, uc(name)).otherwise(tc(name)).alias(name)
            )
    return t.join(u, cond, "full_outer").select(*out_cols)


def key_skew_profile(df, key_col: str, label: str, top_n: int = 10):
    """One-row skew profile of a prospective shuffle key — the
    pre-flight check behind every salting decision (salted_join /
    salted_agg pick their salt factor from exactly these numbers).

    Returns (key_col, n_rows, n_keys, max_cnt, top1_share,
    top10_share, skew_factor): skew_factor = max_cnt · n_keys / n_rows
    is 1.0 for a perfectly uniform key and grows with the hottest
    key's overrepresentation.

    Plan economics at 100 TB: one partial/final count per key (the
    same shuffle the real join would do, so profiling cost ≈ one agg
    pass), then ONE global agg over the per-key counts plus a
    TakeOrdered top-N — no single-partition window, no full sort; the
    driver sees two 1-row relations that broadcast-crossJoin back
    together riding the plan."""
    cnt = df.groupBy(F.col(key_col).alias("k")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    stats = cnt.agg(
        F.sum("cnt").cast("long").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("cnt").cast("long").alias("max_cnt"),
    )
    topn = (
        cnt.orderBy(F.desc("cnt"), F.asc("k"))
        .limit(top_n)
        .agg(F.sum("cnt").cast("long").alias("top_sum"))
    )
    return (
        stats.crossJoin(F.broadcast(topn))
        .select(
            F.lit(label).alias("key_col"),
            "n_rows",
            "n_keys",
            "max_cnt",
            F.round(F.col("max_cnt").cast("double") / F.col("n_rows"), 6).alias(
                "top1_share"
            ),
            # named after the ACTUAL top_n so a caller passing
            # top_n=5 does not read a top-5 share labeled top10_share
            F.round(F.col("top_sum").cast("double") / F.col("n_rows"), 6).alias(
                f"top{top_n}_share"
            ),
            F.round(
                F.col("max_cnt").cast("double")
                * F.col("n_keys")
                / F.col("n_rows"),
                6,
            ).alias("skew_factor"),
        )
    )


def rate_spikes(
    df: DataFrame,
    ts_col: str = "ts",
    type_col: str = "event_type",
    *,
    trail: int = 24,
    min_periods: int = 12,
    z_thresh: float = 3.0,
) -> DataFrame:
    """Event-rate spike AND stall detection over a DENSE hourly spine:
    hourly counts per type are materialized for EVERY hour between the
    type's first and last event (missing hours = 0), then each hour is
    scored against its own trailing ``trail``-hour window (current
    hour excluded from its baseline).  The dense spine is what makes
    the detector honest: a complete stall produces a ZERO row that
    both raises the stall alarm (z < −z_thresh) and drags the
    baseline, and the trailing window is true wall-clock hours — a ROWS
    frame over observed hours only would silently skip gaps (the exact
    failure a stall detector exists to catch).

    Scale shape: the corpus-size work is one hash-agg to the
    (type, hour) grain; the spine is |types| × hours — thousands of
    rows per year per type — and the per-type windows are bounded.
    Warm-up hours (< min_periods trailing observations) are
    suppressed.

    The baseline-mean column is named from the parameter
    (``mean_{trail}h``) so a caller passing trail=48 is not handed a
    column whose name misstates its window; the
    registered trail=24 output is byte-identical to before.

    Constant-baseline alarms: when the trailing window is
    perfectly constant, sd_prev = 0 and z is undefined (NULL) — but
    that is exactly the regime where ANY deviation is the most
    obvious (a cron heartbeat emitting 5 events/hour that dies).  The
    flags therefore fall back to an exact comparison against the
    constant baseline: sd_prev = 0 ∧ n_events > mean_prev ⇒ spike,
    < mean_prev ⇒ stall (an infinite-|z| reading); rate_z itself
    stays NULL there, honestly undefined.  Rows with a NULL
    ``type_col`` are EXCLUDED up front: a NULL key never equi-joins
    back to its own spine, so their hours would all read n_events = 0
    — silently corrupt."""
    h = (
        df.filter(F.col(type_col).isNotNull())
        .groupBy(
            F.col(type_col).alias("event_type"),
            F.date_trunc("hour", F.col(ts_col)).alias("hour"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .localCheckpoint(eager=False)
    )
    bounds = h.groupBy("event_type").agg(
        F.min("hour").alias("h0"), F.max("hour").alias("h1")
    )
    spine = bounds.select(
        "event_type",
        F.explode(F.expr("sequence(h0, h1, interval 1 hour)")).alias("hour"),
    )
    dense = spine.join(h, ["event_type", "hour"], "left").select(
        "event_type",
        "hour",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
    )
    tw = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(-trail, -1)
    )
    w = dense.select(
        "event_type",
        "hour",
        "n_events",
        F.count(F.lit(1)).over(tw).alias("n_prev"),
        F.avg("n_events").over(tw).alias("mean_prev"),
        F.stddev_samp("n_events").over(tw).alias("sd_prev"),
    )
    z = F.when(
        F.col("sd_prev") > 0,
        F.round(
            (F.col("n_events") - F.col("mean_prev")) / F.col("sd_prev"), 6
        ),
    )
    spike = F.when(F.col("sd_prev") > 0, z > F.lit(float(z_thresh))).otherwise(
        F.col("n_events") > F.col("mean_prev")
    )
    stall = F.when(F.col("sd_prev") > 0, z < F.lit(-float(z_thresh))).otherwise(
        F.col("n_events") < F.col("mean_prev")
    )
    return w.filter(F.col("n_prev") >= min_periods).select(
        "event_type",
        "hour",
        "n_events",
        F.round("mean_prev", 6).alias(f"mean_{trail}h"),
        z.alias("rate_z"),
        F.when(spike, 1).otherwise(0).cast("int").alias("is_spike"),
        F.when(stall, 1).otherwise(0).cast("int").alias("is_stall"),
    )
