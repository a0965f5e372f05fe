"""Extended relational coverage: cube, statistical aggregates, outer
joins, pivot, percentiles, scalar-math/regex/conditional functions,
collect aggregates, SQL-interface queries (scalar subquery, TPC-H Q3),
and physical-layout operators (partitioned writes with partition
pruning, bucketed co-located joins).

All are Spark built-ins (SURVEY.md §2.E: the reference has no
relational operators; Spark supplies them); the work is oracle parity
and — for the layout operators — proving the scan/exchange behavior
that matters at 100 TB (partition pruning, shuffle-free joins).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import Window
from pyspark.sql import functions as F

from tmp_parquet_merge_spark.functions.deterministic import dsum
from tmp_parquet_merge_spark.registry import query, t, t_spread
from tmp_parquet_merge_spark.sources import parquet_io

# ---------------------------------------------------------------------------
# Aggregation extensions
# ---------------------------------------------------------------------------


@query(
    "q_agg_cube",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
               COUNT(*) AS n_rows
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q_agg_cube(spark, sf_dir):
    """CUBE grouping sets: all 4 combinations of the two keys."""
    return (
        t(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(dsum("l_quantity").alias("sum_qty"), F.count(F.lit(1)).alias("n_rows"))
    )


@query(
    "q_agg_stats",
    oracle="""
        SELECT l_returnflag,
               round(stddev_samp(l_extendedprice), 4) AS sd_price,
               round(var_samp(l_discount), 6) AS var_disc,
               round(covar_samp(l_quantity, l_extendedprice), 3) AS cov_qty_price,
               round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
               CAST(MIN(l_extendedprice) AS DOUBLE) AS min_price,
               CAST(MAX(l_extendedprice) AS DOUBLE) AS max_price
        FROM lineitem GROUP BY l_returnflag
    """,
)
def q_agg_stats(spark, sf_dir):
    """Statistical aggregates (stddev/variance/covariance/correlation).
    Rounded to absorb merge-order float drift between engines."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("sd_price"),
        F.round(F.var_samp("l_discount"), 6).alias("var_disc"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 3).alias(
            "cov_qty_price"
        ),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.min("l_extendedprice").cast("double").alias("min_price"),
        F.max("l_extendedprice").cast("double").alias("max_price"),
    )


@query(
    "q_percentiles",
    oracle="""
        SELECT l_returnflag,
               round(quantile_cont(l_extendedprice, 0.5), 6) AS p50_price,
               round(quantile_cont(l_extendedprice, 0.9), 6) AS p90_price,
               round(quantile_cont(l_extendedprice, 0.99), 6) AS p99_price
        FROM lineitem GROUP BY l_returnflag
    """,
)
def q_percentiles(spark, sf_dir):
    """Exact interpolated percentiles (Spark percentile ≙ DuckDB
    quantile_cont).  All three fractions ride ONE percentile aggregate
    (array form), so the per-group value buffer — the expensive part
    of an exact quantile — is built once, not three times (3.4 s →
    ~1.2 s at sf0.1).  At 100 TB the approx_percentile sketch replaces
    this plan shape 1:1 when exactness can be traded for memory."""
    li = t(spark, sf_dir, "lineitem")
    ps = F.percentile("l_extendedprice", F.lit([0.5, 0.9, 0.99]))
    agg = li.groupBy("l_returnflag").agg(ps.alias("__ps"))
    return agg.select(
        "l_returnflag",
        *[
            F.round(F.element_at("__ps", i + 1), 6).alias(
                f"p{int(q * 100)}_price"
            )
            for i, q in enumerate((0.5, 0.9, 0.99))
        ],
    )


def _exact_group_percentiles(
    df,
    group_col: str,
    val_col: str,
    pcts,
    *,
    names=None,
    n_buckets: int = 1024,
):
    """Exact per-group interpolated percentiles computed WITHOUT a
    per-group total sort — the distributed order-statistics selection
    that keeps a 3-distinct-value group key from capping the stage at
    3 tasks (guide §2.2/§2.5 skew: a
    single giant key's sort cannot be split, so don't sort — select).

    Three parallel passes replace ``F.percentile``'s per-group
    sort-aggregate:

    1. per-group (count, min, max) — a map-side-combined hash-agg;
    2. a ``n_buckets``-bin histogram over equal-width value buckets
       (monotone ``floor((v - min)/step)``, so bucket order = value
       order) — map-side-combined, shuffle bounded by
       |groups| × n_buckets;
    3. the cumulative histogram locates, per (group, percentile), the
       bucket(s) holding sorted positions floor(p·(n−1)) and
       ceil(p·(n−1)); only THOSE buckets' rows (~2·n/n_buckets per
       target) are re-read and rank-ordered — a window over a few
       hundred rows instead of a sort of the whole group.

    The two selected positions' values feed EXACTLY Spark's
    ``Percentile`` interpolation — ``(higher−pos)·v_lo +
    (pos−lower)·v_hi`` with ``pos = p·(n−1)``, the value itself when
    the positions coincide — in the same double arithmetic, so the
    result is bit-identical to ``F.percentile`` (pinned by
    tests/test_exact_percentiles.py against the built-in on every
    bundled tier plus adversarial tie/edge fixtures).  Consecutive
    sorted positions are contiguous across selected buckets by
    construction (ranks lo and lo+1 can only straddle bucket
    boundaries back-to-back), so the window's local rank + the
    cumulative offset IS the global rank.

    Returns one row per group: ``group_col``, then one ``p<pct>``
    double column per requested percentile.
    """
    from pyspark.sql import Window

    v = F.col(val_col).cast("double")
    # the group key rides in a struct: a struct is never NULL even
    # when its field is, so the NULL group survives every equi-join
    # below as a group like any other (F.percentile keeps it)
    rows = df.select(
        F.struct(F.col(group_col).alias("g")).alias("__g"), v.alias("__v")
    )
    # NO spread_scan here (measured): a keyless round-robin spread
    # of the 600k-row value relation cost MORE than the single-task
    # map passes it parallelized (warm 2.8 -> 3.9 s — the repartition
    # pays sortBeforeRepartition plus a corpus exchange per consumer
    # branch).  The passes are already map-side-combined hash-aggs, so
    # at scale the scan's native splits parallelize them.
    # every group has a stats row, an all-NULL group with __n = 0 (it
    # selects no position and comes back NULL, as F.percentile does)
    stats = rows.groupBy("__g").agg(
        F.count("__v").alias("__n"),
        F.min("__v").alias("__vmin"),
        F.max("__v").alias("__vmax"),
    )
    rows = rows.filter(F.col("__v").isNotNull())
    step = (F.col("__vmax") - F.col("__vmin")) / F.lit(float(n_buckets))
    bucket = (
        F.when(
            F.col("__vmax") > F.col("__vmin"),
            F.least(
                F.floor((F.col("__v") - F.col("__vmin")) / step),
                F.lit(n_buckets - 1),
            ),
        )
        .otherwise(F.lit(0))
        .cast("int")
    )
    hb = rows.join(F.broadcast(stats), "__g").select(
        "__g", "__v", bucket.alias("__b")
    )
    hist = hb.groupBy("__g", "__b").agg(F.count(F.lit(1)).alias("__c"))
    wcum = Window.partitionBy("__g").orderBy("__b")
    cum = hist.select(
        "__g",
        "__b",
        "__c",
        (F.sum("__c").over(wcum) - F.col("__c")).alias("__before"),
    )
    # per (group, percentile): Spark's Percentile positions — pos =
    # p·(n−1) in double, lower = floor, higher = ceil
    tg = stats.select(
        "__g",
        "__n",
        F.explode(F.array(*[F.lit(float(p)) for p in pcts])).alias("__p"),
    )
    pos = F.col("__p") * (F.col("__n") - 1).cast("double")
    tg = tg.select(
        "__g",
        "__p",
        pos.alias("__pos"),
        F.floor(pos).cast("long").alias("__lo"),
        F.ceil(pos).cast("long").alias("__hi"),
    )
    in_bucket = lambda r: (F.col("__before") <= r) & (  # noqa: E731
        r < F.col("__before") + F.col("__c")
    )
    blo = tg.join(cum, "__g").filter(in_bucket(F.col("__lo"))).select(
        "__g",
        "__p",
        "__pos",
        "__lo",
        "__hi",
        F.col("__b").alias("__b_lo"),
        F.col("__before").alias("__off"),
    )
    bhi = (
        tg.join(cum, "__g")
        .filter(in_bucket(F.col("__hi")))
        .select("__g", "__p", F.col("__b").alias("__b_hi"))
    )
    sel = blo.join(bhi, ["__g", "__p"])
    cand = hb.join(
        F.broadcast(sel.withColumnRenamed("__g", "__sg")),
        (F.col("__g") == F.col("__sg"))
        & ((F.col("__b") == F.col("__b_lo")) | (F.col("__b") == F.col("__b_hi"))),
    )
    wr = Window.partitionBy("__g", "__p").orderBy("__v")
    ranked = cand.withColumn(
        "__r", F.row_number().over(wr) - 1 + F.col("__off")
    )
    res = ranked.groupBy("__g", "__p", "__pos", "__lo", "__hi").agg(
        F.max(F.when(F.col("__r") == F.col("__lo"), F.col("__v"))).alias(
            "__vlo"
        ),
        F.max(F.when(F.col("__r") == F.col("__hi"), F.col("__v"))).alias(
            "__vhi"
        ),
    )
    # EXACTLY Percentile.getPercentile's arithmetic, double for double
    val = F.when(F.col("__lo") == F.col("__hi"), F.col("__vlo")).otherwise(
        (F.col("__hi") - F.col("__pos")) * F.col("__vlo")
        + (F.col("__pos") - F.col("__lo")) * F.col("__vhi")
    )
    out = stats.select("__g").join(
        res.groupBy("__g").pivot("__p", [float(p) for p in pcts]).agg(
            F.first(val)
        ),
        "__g",
        "left",
    )
    if names is None:
        names = [f"p{int(p * 100)}" for p in pcts]
    renames = [F.col("__g.g").alias(group_col)] + [
        # backticks: the pivot column is literally "0.5" — a bare
        # F.col would parse the dot as struct access
        F.col(f"`{float(p)}`").alias(name) for p, name in zip(pcts, names)
    ]
    return out.select(*renames)


@query("q_agg_sketch")
def q_agg_sketch(spark, sf_dir):
    """The 100 TB twins of q_agg_distinct / q_percentiles: HyperLogLog++
    distinct-count and GK quantile sketches.  Bounded memory per group,
    map-side mergeable partials (one narrow shuffle of sketch state
    instead of all distinct values / a per-group sort).  Rows-only:
    sketch internals are engine-specific by design — but the output
    carries the exact twins and the measured relative error per group
    (the recall_at_k pattern), so the rows-only driver check sees
    sketch ACCURACY, not just plausible numbers.  The exact columns
    are the verify stage: at open scale they drop and only the sketch
    columns remain (which is the whole point of the sketches)."""
    li = t(spark, sf_dir, "lineitem")
    # THREE separate grouped aggregates joined on the (3-row) group
    # key, NOT one combined agg: countDistinct forces an Expand, and
    # exact percentile over the expanded rows degrades the whole
    # aggregate to a spilling sort path — the combined spelling
    # measured 9–14 s at sf0.1 vs ~2 s for this shape, where each
    # aggregate keeps
    # its own optimal strategy and the joins are 3-row broadcasts.
    ap = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("p50_sketch"),
        F.percentile_approx("l_extendedprice", 0.99, 10000).alias("p99_sketch"),
    )
    cd = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("exact_parts")
    )
    # F.percentile's per-group
    # sort-aggregate was capped at 3 tasks by the 3-row group key —
    # the bucket-selection helper computes bit-identical values (see
    # its docstring + tests/test_exact_percentiles.py) from three
    # parallel hash-agg passes and a few-hundred-row window.
    pct_raw = _exact_group_percentiles(
        li,
        "l_returnflag",
        "l_extendedprice",
        (0.5, 0.99),
        names=("p50_exact", "p99_exact"),
    )
    pct = pct_raw.select(
        "l_returnflag",
        F.round(F.col("p50_exact"), 6).alias("p50_exact"),
        F.round(F.col("p99_exact"), 6).alias("p99_exact"),
    )
    return (
        ap.join(cd, "l_returnflag")
        .join(pct, "l_returnflag")
        .withColumn(
            "distinct_rel_err",
            F.round(
                F.abs(F.col("approx_parts") - F.col("exact_parts"))
                / F.col("exact_parts"),
                4,
            ),
        )
    )


@query(
    "q_agg_collect",
    oracle="""
        SELECT n_regionkey,
               array_to_string(list_sort(list(DISTINCT n_name)), '|') AS nations
        FROM nation GROUP BY n_regionkey
    """,
)
def q_agg_collect(spark, sf_dir):
    """Collect-to-array aggregation, sorted for determinism.  The sorted
    array is serialized with array_join so the result is hashable by
    row-oriented canonicalizers (list cells are not)."""
    return (
        t(spark, sf_dir, "nation")
        .groupBy("n_regionkey")
        .agg(
            F.array_join(
                F.array_sort(F.collect_set("n_name")), "|"
            ).alias("nations")
        )
    )


@query(
    "q_pivot",
    oracle="""
        SELECT user_id,
               COUNT(*) FILTER (event_type = 'click')    AS click,
               COUNT(*) FILTER (event_type = 'error')    AS error,
               COUNT(*) FILTER (event_type = 'purchase') AS purchase,
               COUNT(*) FILTER (event_type = 'signup')   AS signup,
               COUNT(*) FILTER (event_type = 'view')     AS view
        FROM events GROUP BY user_id
    """,
)
def q_pivot(spark, sf_dir):
    """Pivot (long→wide): per-user event-type counts.  Explicit value
    list so no discovery pass is needed (the 100 TB-friendly form)."""
    e = t(spark, sf_dir, "events")
    out = (
        e.groupBy("user_id")
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .agg(F.count(F.lit(1)))
    )
    return out.na.fill(0, ["click", "error", "purchase", "signup", "view"])


# ---------------------------------------------------------------------------
# Join extensions
# ---------------------------------------------------------------------------


@query(
    "q_join_outer",
    oracle="""
        SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
        FROM customer c LEFT JOIN orders o
          ON c.c_custkey = o.o_custkey AND o.o_totalprice > 400000
    """,
)
def q_join_outer(spark, sf_dir):
    """Left outer join with a join-side predicate (unmatched rows keep
    NULLs — the predicate must live in the join condition, not a
    post-filter)."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return c.join(
        o, (c.c_custkey == o.o_custkey) & (o.o_totalprice > 400000), "left"
    ).select("c_custkey", "c_name", "o_orderkey", "o_totalprice")


# ---------------------------------------------------------------------------
# Scalar-function extensions
# ---------------------------------------------------------------------------


@query(
    "q_scalar_math",
    oracle="""
        SELECT l_orderkey, l_linenumber,
               round(sqrt(l_quantity), 6) AS sqrt_qty,
               round(ln(l_extendedprice), 6) AS ln_price,
               round(pow(1.0 + l_discount, 2), 6) AS disc_sq,
               abs(l_quantity - 25.0) AS dev_from_25,
               CAST(ceil(l_extendedprice / 1000.0) AS BIGINT) AS price_bucket
        FROM lineitem
    """,
)
def q_scalar_math(spark, sf_dir):
    """Math scalar functions (sqrt/ln/pow/abs/ceil)."""
    li = t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.sqrt("l_quantity"), 6).alias("sqrt_qty"),
        F.round(F.log("l_extendedprice"), 6).alias("ln_price"),
        F.round(F.pow(F.lit(1.0) + F.col("l_discount"), 2), 6).alias("disc_sq"),
        F.abs(F.col("l_quantity") - 25.0).alias("dev_from_25"),
        F.ceil(F.col("l_extendedprice") / 1000.0).alias("price_bucket"),
    )


@query(
    "q_scalar_regex",
    oracle="""
        SELECT p_partkey,
               regexp_extract(p_name, '^([a-z]+)', 1) AS first_word,
               regexp_replace(p_name, '[aeiou]', '*', 'g') AS devoweled,
               CAST(p_name LIKE '%green%' AS BOOLEAN) AS has_green,
               CAST(len(string_split(p_type, ' ')) AS INTEGER) AS type_words
        FROM part
    """,
)
def q_scalar_regex(spark, sf_dir):
    """Regex scalar functions (extract/replace/like/split)."""
    p = t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.regexp_extract("p_name", "^([a-z]+)", 1).alias("first_word"),
        F.regexp_replace("p_name", "[aeiou]", "*").alias("devoweled"),
        F.col("p_name").like("%green%").alias("has_green"),
        F.size(F.split("p_type", " ")).alias("type_words"),
    )


@query(
    "q_scalar_conditional",
    oracle="""
        SELECT o_orderkey,
               CASE WHEN o_totalprice >= 300000 THEN 'high'
                    WHEN o_totalprice >= 100000 THEN 'mid'
                    ELSE 'low' END AS price_band,
               coalesce(nullif(o_orderpriority, '4-NOT SPECIFIED'),
                        'unspecified') AS priority,
               CAST(o_totalprice >= 300000 AS BOOLEAN) AS is_high
        FROM orders
    """,
)
def q_scalar_conditional(spark, sf_dir):
    """Conditional scalar functions (CASE/when, nullif, coalesce)."""
    o = t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") >= 300000, "high")
        .when(F.col("o_totalprice") >= 100000, "mid")
        .otherwise("low")
        .alias("price_band"),
        F.coalesce(
            F.nullif(F.col("o_orderpriority"), F.lit("4-NOT SPECIFIED")),
            F.lit("unspecified"),
        ).alias("priority"),
        (F.col("o_totalprice") >= 300000).alias("is_high"),
    )


# ---------------------------------------------------------------------------
# SQL interface (spark.sql over registered views)
# ---------------------------------------------------------------------------


def _views(spark, sf_dir, *names):
    # fact tables get the conditional parallelism floor (see
    # registry.t_spread; no-op at scale, DECIMAL-sum queries only)
    for n in names:
        t_spread(spark, sf_dir, n).createOrReplaceTempView(n)


@query(
    "q_sql_scalar_subquery",
    oracle="""
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE o_totalprice > (SELECT 2 * AVG(o_totalprice) FROM orders)
    """,
)
def q_sql_scalar_subquery(spark, sf_dir):
    """Scalar subquery through the SQL interface — Catalyst plans the
    subquery once and broadcasts the scalar."""
    _views(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE o_totalprice > (SELECT 2 * AVG(o_totalprice) FROM orders)
        """
    )


_SQL_EXISTS = """
    SELECT c_custkey, c_name, c_acctbal
    FROM customer c
    WHERE EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000
    )
    AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
          AND o.o_totalprice > 490000
    )
"""


@query("q_sql_exists", oracle=_SQL_EXISTS)
def q_sql_exists(spark, sf_dir):
    """Correlated EXISTS / NOT EXISTS subqueries — Catalyst decorrelates
    them into a left-semi and a left-anti join on o_custkey (no per-row
    subquery execution, the only shape that scales); the o_totalprice
    predicates push into the subquery scans.  Same text on both
    engines."""
    _views(spark, sf_dir, "customer", "orders")
    return spark.sql(_SQL_EXISTS)


@query(
    "q_sql_tpch_q3",
    oracle="""
        SELECT l.l_orderkey,
               CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
               o.o_orderdate, o.o_orderpriority
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '1997-03-15'
          AND l.l_shipdate > TIMESTAMP '1997-03-15'
        GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
        ORDER BY revenue DESC, l.l_orderkey
        LIMIT 10
    """,
)
def q_sql_tpch_q3(spark, sf_dir):
    """TPC-H Q3 (shipping priority) verbatim through spark.sql — the
    full SQL surface: multi-join, agg, order, limit in one statement."""
    _views(spark, sf_dir, "customer", "orders", "lineitem")
    return spark.sql(
        """
        SELECT l.l_orderkey,
               CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
               o.o_orderdate, o.o_orderpriority
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '1997-03-15'
          AND l.l_shipdate > TIMESTAMP '1997-03-15'
        GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
        ORDER BY revenue DESC, l.l_orderkey
        LIMIT 10
        """
    )


# ---------------------------------------------------------------------------
# Physical layout: partitioned writes (pruning) & bucketed joins
# ---------------------------------------------------------------------------


@query(
    "q_partition_pruning",
    oracle="""
        SELECT o_orderkey, o_custkey, o_totalprice,
               CAST(year(o_orderdate) AS INTEGER) AS o_year
        FROM orders WHERE year(o_orderdate) = 1997
    """,
)
def q_partition_pruning(spark, sf_dir):
    """Hive-style partitioned write + partition-pruned read: the year
    filter is resolved against directory names (PartitionFilters), so
    non-matching partitions are never opened — at 100 TB this is the
    difference between scanning one year and scanning the lake."""
    out = os.path.join(tempfile.mkdtemp(prefix="tpms_part_"), "orders_by_year")
    o = t(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    parquet_io.write_parquet(
        o.select("o_orderkey", "o_custkey", "o_totalprice", "o_year"),
        out,
        partition_by=["o_year"],
    )
    return (
        spark.read.parquet(out)
        .filter(F.col("o_year") == 1997)
        .select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            F.col("o_year").cast("int").alias("o_year"),
        )
    )


@query(
    "q_resample_ffill",
    oracle="""
        WITH e AS (
            SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
            FROM events WHERE user_id < 10
        ),
        bounds AS (
            SELECT CAST(to_timestamp(floor(epoch(MIN(ts)) / 3600) * 3600)
                        AS TIMESTAMP) AS t0,
                   CAST(to_timestamp(floor(epoch(MAX(ts)) / 3600) * 3600)
                        AS TIMESTAMP) AS t1
            FROM e
        ),
        grid AS (
            SELECT u.user_id, g.slot
            FROM (SELECT DISTINCT user_id FROM e) u
            CROSS JOIN (
                SELECT unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS slot
                FROM bounds
            ) g
        ),
        slotted AS (
            SELECT user_id,
                   CAST(to_timestamp(floor(epoch(ts) / 3600) * 3600)
                        AS TIMESTAMP) AS slot,
                   CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v
            FROM e GROUP BY 1, 2
        )
        SELECT g.user_id, g.slot,
               round(COALESCE(
                   last_value(s.v IGNORE NULLS) OVER (
                       PARTITION BY g.user_id ORDER BY g.slot
                       ROWS UNBOUNDED PRECEDING
                   ), 0.0), 6) AS filled_value
        FROM grid g LEFT JOIN slotted s
          ON s.user_id = g.user_id AND s.slot = g.slot
    """,
)
def q_resample_ffill(spark, sf_dir):
    """Time-series resample to an hourly grid with forward-fill: the
    gap-filling op behind feature stores and monitoring rollups.  The
    per-user grid is a broadcast sequence-explode (no skew), slot sums
    are one hash-agg, and the fill is `last(ignorenulls)` over the
    grid window — one shuffle by user.  Values rounded before compare;
    leading gaps coalesce to 0."""
    e = t(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    slot = F.timestamp_seconds(
        (F.unix_timestamp(F.col("ts").cast("timestamp")) / 3600).cast("long")
        * 3600
    ).cast("timestamp_ntz")
    bounds = e.agg(
        F.min(slot.cast("timestamp")).alias("t0"),
        F.max(slot.cast("timestamp")).alias("t1"),
    )
    grid = (
        e.select("user_id")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "user_id",
            F.explode(
                F.sequence("t0", "t1", F.expr("INTERVAL 1 HOUR"))
            ).alias("slot"),
        )
        .withColumn("slot", F.col("slot").cast("timestamp_ntz"))
    )
    slotted = e.groupBy("user_id", slot.alias("slot")).agg(
        dsum("value").alias("v")
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("slot")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(slotted, ["user_id", "slot"], "left")
        .select(
            "user_id",
            "slot",
            F.round(
                F.coalesce(F.last("v", ignorenulls=True).over(w), F.lit(0.0)), 6
            ).alias("filled_value"),
        )
    )


@query(
    "q_incremental_agg",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
               COUNT(*) AS n_rows
        FROM lineitem GROUP BY 1, 2
    """,
)
def q_incremental_agg(spark, sf_dir):
    """Incremental rollup: the table arrives as two batches, each is
    aggregated to PARTIAL state (sum/count per key) and persisted;
    merging = union of partials + one re-aggregation.  The oracle is
    the one-shot aggregate over everything — proving partial-state
    merging is lossless.  At 100 TB this is the daily-rollup pattern:
    each day's data is aggregated once, and reports re-aggregate tiny
    state files instead of rescanning the lake."""
    li = t(spark, sf_dir, "lineitem")
    batch1 = li.filter(F.col("l_orderkey") % 2 == 0)
    batch2 = li.filter(F.col("l_orderkey") % 2 == 1)
    out = tempfile.mkdtemp(prefix="tpms_incr_")

    def partial(df, name):
        p = os.path.join(out, name)
        df.groupBy("l_returnflag", "l_linestatus").agg(
            dsum("l_quantity").alias("sum_qty"),
            F.count(F.lit(1)).alias("n_rows"),
        ).write.mode("overwrite").parquet(p)
        return spark.read.parquet(p)

    merged = partial(batch1, "day1").unionAll(partial(batch2, "day2"))
    return merged.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("sum_qty"), 6).alias("sum_qty"),
        F.sum("n_rows").alias("n_rows"),
    )


@query(
    "q_zorder_layout",
    oracle="""
        SELECT l_orderkey, l_partkey, l_suppkey,
               CAST(l_quantity AS DOUBLE) AS l_quantity
        FROM lineitem
    """,
)
def q_zorder_layout(spark, sf_dir):
    """Z-order clustered rewrite of lineitem on (l_partkey, l_suppkey):
    Morton-interleaved 16-bit dims → range-partitioned sort → bounded
    row groups.  Content is unchanged (the oracle checks that); the
    layout win — narrow per-row-group min/max on BOTH dims — is
    asserted in tests/test_merge.py via footer stats."""
    from tmp_parquet_merge_spark.sources.zorder import zorder_write

    out = os.path.join(tempfile.mkdtemp(prefix="tpms_zorder_"), "lineitem_z")
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        F.col("l_quantity").cast("double").alias("l_quantity"),
    )
    return zorder_write(li, ("l_partkey", "l_suppkey"), out)


@query(
    "q_table_diff",
    oracle="""
        WITH t AS (SELECT o_orderkey, o_totalprice FROM orders),
        v2 AS (
            SELECT o_orderkey,
                   CASE WHEN o_totalprice > 200000
                        THEN o_totalprice + 1000.0
                        ELSE o_totalprice END AS o_totalprice
            FROM orders WHERE o_orderkey % 10 != 0
        )
        SELECT 'removed' AS change, o_orderkey, o_totalprice
        FROM (SELECT * FROM t EXCEPT ALL SELECT * FROM v2)
        UNION ALL
        SELECT 'added', o_orderkey, o_totalprice
        FROM (SELECT * FROM v2 EXCEPT ALL SELECT * FROM t)
    """,
)
def q_table_diff(spark, sf_dir):
    """Snapshot diff between two table versions (deletes + price
    changes): symmetric EXCEPT ALL labelled added/removed — the
    change-detection primitive for incremental pipelines.  Both sides
    hash-partition once on all columns; no full-row sort."""
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    v2 = o.filter(F.col("o_orderkey") % 10 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_totalprice") > 200000, F.col("o_totalprice") + 1000.0
        ).otherwise(F.col("o_totalprice")),
    )
    removed = o.exceptAll(v2).select(
        F.lit("removed").alias("change"), "o_orderkey", "o_totalprice"
    )
    added = v2.exceptAll(o).select(
        F.lit("added").alias("change"), "o_orderkey", "o_totalprice"
    )
    return removed.unionAll(added)


@query(
    "q_upsert",
    oracle="""
        WITH u AS (
            SELECT o_orderkey, o_custkey, o_totalprice + 1000.0 AS o_totalprice
            FROM orders WHERE o_totalprice > 200000
        )
        SELECT COALESCE(u.o_orderkey, t.o_orderkey) AS o_orderkey,
               CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_custkey
                    ELSE t.o_custkey END AS o_custkey,
               CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_totalprice
                    ELSE t.o_totalprice END AS o_totalprice
        FROM (SELECT o_orderkey, o_custkey, o_totalprice FROM orders) t
        FULL OUTER JOIN u ON t.o_orderkey = u.o_orderkey
    """,
)
def q_upsert(spark, sf_dir):
    """MERGE/CDC-apply: a change feed (price adjustments on big orders)
    upserted into the orders table — full-outer join on the key with a
    row-wise winner pick; the no-table-format MERGE."""
    from tmp_parquet_merge_spark.operators.relational import upsert

    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    updates = o.filter(F.col("o_totalprice") > 200000).withColumn(
        "o_totalprice", F.col("o_totalprice") + 1000.0
    )
    return upsert(o, updates, ["o_orderkey"])


@query(
    "q_funnel",
    oracle="""
        WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
                   FROM events),
        v AS (SELECT user_id, MIN(ts) AS t1 FROM e
              WHERE event_type = 'view' GROUP BY 1),
        c AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM e JOIN v USING (user_id)
              WHERE event_type = 'click' AND e.ts > v.t1 GROUP BY 1),
        p AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM e JOIN c USING (user_id)
              WHERE event_type = 'purchase' AND e.ts > c.t2 GROUP BY 1)
        SELECT 'view' AS stage, COUNT(*) AS n_users FROM v
        UNION ALL
        SELECT 'view > click', COUNT(*) FROM c
        UNION ALL
        SELECT 'view > click > purchase', COUNT(*) FROM p
    """,
)
def q_funnel(spark, sf_dir):
    """Ordered conversion funnel view → click → purchase: stage-k
    events must follow the user's first stage-(k-1) completion.  Each
    stage is a filtered min-ts hash-agg joined to the shrinking
    survivor set — no full-stream window."""
    from tmp_parquet_merge_spark.operators.relational import funnel

    return funnel(
        t(spark, sf_dir, "events"), ["view", "click", "purchase"]
    )


@query(
    "q_dpp_join",
    oracle="""
        WITH y AS (
            SELECT DISTINCT CAST(year(o_orderdate) AS INTEGER) AS y
            FROM orders
        ),
        recent AS (SELECT y FROM y WHERE y >= 1997)
        SELECT o_orderkey, o_totalprice,
               CAST(year(o_orderdate) AS INTEGER) AS o_year
        FROM orders JOIN recent ON year(o_orderdate) = recent.y
    """,
)
def q_dpp_join(spark, sf_dir):
    """Dynamic partition pruning: the fact table carries NO static
    filter on its partition column — the surviving partitions are
    decided at runtime from the (broadcast) filtered dim side, and the
    fact scan's PartitionFilters gains a dynamicpruning subquery.  At
    100 TB this is how a date-dim filter avoids scanning the whole
    fact lake; the static twin is q_partition_pruning."""
    out = os.path.join(tempfile.mkdtemp(prefix="tpms_dpp_"), "orders_by_year")
    o = t(spark, sf_dir, "orders").withColumn("o_year", F.year("o_orderdate"))
    parquet_io.write_parquet(
        o.select("o_orderkey", "o_totalprice", "o_year"), out,
        partition_by=["o_year"],
    )
    fact = spark.read.parquet(out)
    dim = (
        t(spark, sf_dir, "orders")
        .select(F.year("o_orderdate").alias("y"))
        .distinct()
        .filter(F.col("y") >= 1997)
    )
    return (
        fact.join(F.broadcast(dim), fact.o_year == dim.y)
        .select(
            "o_orderkey",
            "o_totalprice",
            F.col("o_year").cast("int").alias("o_year"),
        )
    )


@query(
    "q_bucketed_join",
    oracle="""
        SELECT o.o_orderkey, o.o_custkey, o.o_totalprice, c.c_name
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE o.o_totalprice > 200000
    """,
)
def q_bucketed_join(spark, sf_dir):
    """Bucketed co-located join: both sides bucketed by the join key at
    write time, so the join needs NO exchange at read time (SortMergeJoin
    over pre-bucketed scans).  This is the 100 TB recipe for repeated
    fact⋈fact joins where broadcast is impossible and per-query shuffles
    are the dominant cost."""
    from tmp_parquet_merge_spark.sources.bucketing import bucketed_join_tables

    joined = bucketed_join_tables(
        spark,
        left=t(spark, sf_dir, "orders"),
        right=t(spark, sf_dir, "customer"),
        left_name="orders_b",
        right_name="customer_b",
        key_left="o_custkey",
        key_right="c_custkey",
        n_buckets=8,
    )
    return joined.filter(F.col("o_totalprice") > 200000).select(
        "o_orderkey", "o_custkey", "o_totalprice", "c_name"
    )


# ---------------------------------------------------------------------------
# Round-2 additions: forward as-of, skew salting, window ranks, unpivot,
# TPC-H Q6
# ---------------------------------------------------------------------------


@query(
    "q_join_asof_forward",
    oracle="""
        WITH o AS (
            SELECT o_custkey, o_orderdate, MIN(o_orderkey) AS next_orderkey
            FROM orders GROUP BY o_custkey, o_orderdate
        )
        SELECT e.event_id, e.user_id, o.next_orderkey,
               o.o_orderdate AS next_orderdate
        FROM events e
        ASOF LEFT JOIN o
          ON e.user_id = o.o_custkey AND o.o_orderdate >= CAST(e.ts AS TIMESTAMP)
    """,
)
def q_join_asof_forward(spark, sf_dir):
    """Forward as-of join: the EARLIEST order at or after each event,
    per user — the other half of the as-of pair (q_join_asof is
    backward).  Same union-merge plan, time sort reversed: still ONE
    shuffle on the key, no per-key row explosion."""
    from tmp_parquet_merge_spark.operators.relational import asof_join

    e = t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.min("o_orderkey").alias("next_orderkey"))
        .withColumnRenamed("o_custkey", "user_id")
        .withColumn("next_orderdate", F.col("o_orderdate"))
        .drop("o_orderdate")
        .withColumn("__rt", F.col("next_orderdate"))
    )
    return asof_join(
        e,
        o,
        on="user_id",
        left_time="ts",
        right_time="__rt",
        right_values=["next_orderkey", "next_orderdate"],
        direction="forward",
    ).select("event_id", "user_id", "next_orderkey", "next_orderdate")


@query(
    "q_join_asof_tolerance",
    oracle="""
        WITH v AS (
            SELECT user_id, ts AS view_ts, event_id AS view_id
            FROM events WHERE event_type = 'view'
        ),
        p AS (
            SELECT event_id, user_id, ts FROM events
            WHERE event_type = 'purchase'
        ),
        a AS (
            SELECT p.event_id, p.user_id, p.ts, v.view_id, v.view_ts
            FROM p
            ASOF LEFT JOIN v
              ON p.user_id = v.user_id AND v.view_ts <= p.ts
        )
        SELECT event_id, user_id,
               CASE WHEN ts <= view_ts + INTERVAL 1 HOUR
                    THEN view_id END AS view_id,
               CASE WHEN ts <= view_ts + INTERVAL 1 HOUR
                    THEN view_ts END AS view_ts
        FROM a
    """,
)
def q_join_asof_tolerance(spark, sf_dir):
    """Bounded-staleness as-of join (pandas ``merge_asof(tolerance=)``
    semantics): each purchase matches the same user's most recent
    prior view ONLY if it is at most 1 hour stale; older views come
    back NULL — last-touch attribution with a freshness window.  EXACT
    under backward as-of, not an approximation: if the latest
    at-or-before view is outside the tolerance, every other candidate
    is older still, so post-gating the single carried match IS the
    tolerance semantics.  Same union-merge plan as q_join_asof — one
    shuffle of |L|+|R| rows on the key, the gate is a post-window
    projection; no inequality join, no per-key explosion."""
    from tmp_parquet_merge_spark.operators.relational import asof_join

    ev = t(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    v = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("ts").alias("view_ts"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("__rt"),
    )
    within = F.col("ts") <= F.col("view_ts") + F.expr("INTERVAL 1 HOUR")
    return asof_join(
        p,
        v,
        on="user_id",
        left_time="ts",
        right_time="__rt",
        right_values=["view_id", "view_ts"],
    ).select(
        "event_id",
        "user_id",
        F.when(within, F.col("view_id")).alias("view_id"),
        F.when(within, F.col("view_ts")).alias("view_ts"),
    )


@query(
    "q_salted_join",
    oracle="""
        SELECT o.o_orderkey, o.o_totalprice, c.c_name
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def q_salted_join(spark, sf_dir):
    """Skew-salted equi-join: the left side carries a deterministic
    row-hash salt in [0,8), the right side replicates 8×, so one hot
    key spreads over 8 reducers instead of melting one.  Result is
    bit-identical to the plain inner join (the oracle) — the salt only
    changes the exchange layout.  This is the escape hatch when AQE
    skew splitting isn't enough (one key larger than an executor)."""
    from tmp_parquet_merge_spark.operators.relational import salted_join

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return salted_join(o, c, "o_custkey", "c_custkey", salt=8).select(
        "o_orderkey", "o_totalprice", "c_name"
    )


@query(
    "q_salted_agg",
    oracle="""
        SELECT event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        FROM events GROUP BY event_type
    """,
)
def q_salted_agg(spark, sf_dir):
    """Skew-salted two-phase aggregation: events carry only 5 distinct
    event types, so a direct groupBy funnels the table through 5
    reducers.  Phase 1 aggregates on (event_type, salt) — 16 partials
    per type spread across reducers — phase 2 merges the 16 partial
    rows per type.  Counts sum losslessly and the value sum rides as
    DECIMAL(18,6) partials, so the result is bit-identical to the
    plain single-phase agg (the oracle).  This is the aggregation
    escape hatch when a key is larger than an executor (AQE splits
    skewed JOIN partitions, not agg groups)."""
    e = t(spark, sf_dir, "events")
    salt = F.pmod(F.hash("event_id"), F.lit(16)).alias("salt")
    partial = e.groupBy("event_type", salt).agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("pv"),
    )
    return partial.groupBy("event_type").agg(
        F.sum("pn").alias("n_events"),
        F.sum("pv").cast("double").alias("sum_value"),
    )


@query(
    "q_window_ntile",
    oracle="""
        SELECT o_custkey, o_orderkey,
               ntile(4) OVER w AS quartile,
               round(percent_rank() OVER w, 6) AS pct_rank,
               round(cume_dist() OVER w, 6) AS cume
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY o_totalprice, o_orderkey)
    """,
)
def q_window_ntile(spark, sf_dir):
    """Distribution window functions (ntile / percent_rank / cume_dist)
    per customer — one shuffle on the partition key, all three ranks in
    the same window pass; keys are numerous so the work spreads across
    executors (no single-partition global window)."""
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    return t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


@query(
    "q_unpivot",
    oracle="""
        SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS value
        FROM part
        UNION ALL
        SELECT p_partkey, 'p_retailprice', CAST(p_retailprice AS DOUBLE)
        FROM part
    """,
)
def q_unpivot(spark, sf_dir):
    """Unpivot/melt (wide → long): the inverse of q_pivot, a zero-shuffle
    generator expansion (each input row emits one row per value column).
    Oracle is the engine-neutral UNION ALL spelling."""
    p = t(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        F.col("p_retailprice").cast("double").alias("p_retailprice"),
    )
    return p.unpivot(
        ids=["p_partkey"],
        values=["p_size", "p_retailprice"],
        variableColumnName="metric",
        valueColumnName="value",
    )


@query(
    "q_sql_tpch_q6",
    oracle="""
        SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6)))
                    AS DOUBLE) AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1994-01-01'
          AND l_shipdate <  TIMESTAMP '1995-01-01'
          AND l_discount >= 0.05 AND l_discount <= 0.07
          AND l_quantity < 24
    """,
)
def q_sql_tpch_q6(spark, sf_dir):
    """TPC-H Q6 (forecast revenue change): the canonical
    scan→pushed-filter→scalar-agg query — every predicate lands in the
    parquet scan's PushedFilters, the aggregate is a two-phase partial/
    final sum, nothing shuffles but one partial-agg row per task."""
    from tmp_parquet_merge_spark.functions.deterministic import dsum_expr

    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1994-01-01")
        & (F.col("l_shipdate") < "1995-01-01")
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        dsum_expr(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue")
    )


_TPCH_Q5 = """
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
                AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
"""


@query("q_sql_tpch_q5", oracle=_TPCH_Q5)
def q_sql_tpch_q5(spark, sf_dir):
    """TPC-H Q5 (local-supplier volume) verbatim through spark.sql —
    the 6-table join exercise: Catalyst reorders the join tree, the
    dims (region→nation→supplier) broadcast, and only the
    customer⋈orders⋈lineitem spine shuffles; the c_nationkey =
    s_nationkey condition closes the join cycle.  One statement, same
    text on both engines."""
    _views(
        spark, sf_dir,
        "customer", "orders", "lineitem", "supplier", "nation", "region",
    )
    return spark.sql(_TPCH_Q5)


@query(
    "q_window_topk",
    oracle="""
        WITH b AS (
            SELECT time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) AS w_start,
                   event_type, COUNT(*) AS n_events
            FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2
        ),
        r AS (
            SELECT *, ROW_NUMBER() OVER (
                       PARTITION BY w_start
                       ORDER BY n_events DESC, event_type) AS rnk
            FROM b
        )
        SELECT w_start, event_type, n_events, CAST(rnk AS INT) AS rnk
        FROM r WHERE rnk <= 3
    """,
)
def q_window_topk(spark, sf_dir):
    """Trending items: top-3 event types per hourly bucket — grouped
    top-k over a time dimension (the feed/leaderboard shape).  One
    hash-agg on (bucket, type), then a rank filter Spark executes as
    WindowGroupLimit: per-partition heaps keep 3 rows per bucket
    BEFORE the window shuffle, so the exchange carries k·buckets rows,
    not the aggregate table (asserted in tests/test_plans.py)."""
    e = t(spark, sf_dir, "events")
    b = e.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w = Window.partitionBy("w").orderBy(F.desc("n_events"), F.asc("event_type"))
    return (
        b.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            F.col("w.start").alias("w_start"), "event_type", "n_events", "rnk"
        )
    )


@query(
    "q_winsorize",
    oracle="""
        WITH q AS (
            SELECT quantile_cont(n_chars, 0.01) AS lo,
                   quantile_cont(n_chars, 0.99) AS hi
            FROM documents
        )
        SELECT doc_id, n_chars,
               round(least(greatest(CAST(n_chars AS DOUBLE), lo), hi), 6)
                   AS n_chars_winsor,
               (n_chars < lo OR n_chars > hi) AS is_outlier
        FROM documents, q
    """,
)
def q_winsorize(spark, sf_dir):
    """Outlier control for a length-like feature: clamp every value
    into the exact [P1, P99] corpus band and flag the clipped rows —
    the document-length filter stage of corpus curation.  The two
    quantiles are ONE scalar-aggregate row broadcast into a scan-speed
    projection (BroadcastNestedLoopJoin of a 1-row build side), so the
    plan is a single pass over the corpus; at 100 TB the
    approx_percentile sketch replaces the exact quantile 1:1."""
    d = t(spark, sf_dir, "documents")
    # both fractions on ONE percentile buffer (array form)
    q = d.agg(
        F.percentile("n_chars", F.lit([0.01, 0.99])).alias("__q")
    ).select(
        F.element_at("__q", 1).alias("lo"),
        F.element_at("__q", 2).alias("hi"),
    )
    nc = F.col("n_chars").cast("double")
    return d.select("doc_id", "n_chars").crossJoin(F.broadcast(q)).select(
        "doc_id",
        "n_chars",
        F.round(F.least(F.greatest(nc, F.col("lo")), F.col("hi")), 6).alias(
            "n_chars_winsor"
        ),
        ((F.col("n_chars") < F.col("lo")) | (F.col("n_chars") > F.col("hi"))).alias(
            "is_outlier"
        ),
    )


@query(
    "q_grouping_sets",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
               COUNT(*) AS n_rows
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def q_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS with grouping_id — the general form
    rollup/cube specialize (q_agg_rollup / q_agg_cube are the fixed
    lattices); the gid column disambiguates a NULL key value from a
    rolled-up level.  One Expand + hash-agg pass, no extra scans."""
    _views(spark, sf_dir, "lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               grouping_id(l_returnflag, l_linestatus) AS gid,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
               COUNT(*) AS n_rows
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@query(
    "q_agg_argmax",
    oracle="""
        SELECT o_custkey,
               arg_max(o_totalprice, o_orderkey) AS last_order_price,
               arg_min(o_totalprice, o_orderkey) AS first_order_price,
               MAX(o_orderkey) AS last_orderkey
        FROM orders GROUP BY o_custkey
    """,
)
def q_agg_argmax(spark, sf_dir):
    """Argmax/argmin aggregates (max_by/min_by ≙ DuckDB arg_max/
    arg_min): the price of each customer's latest and first order in
    ONE hash-agg pass — no self-join, no window sort; the ordering key
    (o_orderkey) is unique, so results are deterministic."""
    return (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.max_by("o_totalprice", "o_orderkey").alias("last_order_price"),
            F.min_by("o_totalprice", "o_orderkey").alias("first_order_price"),
            F.max("o_orderkey").alias("last_orderkey"),
        )
    )


@query(
    "q_window_range_frame",
    oracle="""
        SELECT event_id, user_id,
               COUNT(*) OVER w AS n_events_1h,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
                   AS sum_value_1h
        FROM events
        WINDOW w AS (PARTITION BY user_id
                     ORDER BY floor(epoch(CAST(ts AS TIMESTAMP)))
                     RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    """,
)
def q_window_range_frame(spark, sf_dir):
    """RANGE window frame over event time: per-user trailing-hour count
    and sum — the value-based frame (rows at equal timestamps share a
    frame, unlike ROWS), the batch primitive behind rate limits and
    trailing-window features.  One shuffle on user_id; the frame is
    computed in a single sorted pass per partition."""
    from pyspark.sql import Window

    e = t(spark, sf_dir, "events").withColumn(
        "__sec", F.unix_timestamp(F.col("ts").cast("timestamp"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("__sec")
        .rangeBetween(-3600, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_events_1h"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .over(w)
        .cast("double")
        .alias("sum_value_1h"),
    )


# TPC-H Q10 (returned-item reporting): which customers returned goods
# in a quarter, ranked by lost revenue.  Shared verbatim between Spark
# and the DuckDB oracle.
_TPCH_Q10 = """
    SELECT c_custkey, c_name,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
                AS DOUBLE) AS revenue,
           c_acctbal, n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1996-04-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
"""


@query("q_sql_tpch_q10", oracle=_TPCH_Q10)
def q_sql_tpch_q10(spark, sf_dir):
    """TPC-H Q10 (returned-item reporting) verbatim through spark.sql:
    date-filtered orders ⋈ returned lineitems ⋈ customer, nation
    broadcast, top-20 by lost revenue via TakeOrderedAndProject.  The
    o_orderdate range lands on the scan as pushed min/max filters; the
    revenue aggregate rides DECIMAL(18,6) for cross-engine equality."""
    _views(spark, sf_dir, "customer", "orders", "lineitem", "nation")
    return spark.sql(_TPCH_Q10)


# TPC-H Q18 (large-volume customers): orders whose total quantity
# exceeds 300, with their customers, biggest orders first.
_TPCH_Q18 = """
    WITH qualifying AS (
        SELECT l_orderkey AS q_orderkey FROM lineitem
        GROUP BY l_orderkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(18,6))) > 300
    )
    SELECT /*+ BROADCAST(qualifying) */
           c_custkey, c_name, o_orderkey, o_totalprice,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS total_qty
    FROM customer
    JOIN orders     ON c_custkey = o_custkey
    JOIN qualifying ON o_orderkey = q_orderkey
    JOIN lineitem   ON l_orderkey = o_orderkey
    GROUP BY c_custkey, c_name, o_orderkey, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
"""


@query("q_sql_tpch_q18", oracle=_TPCH_Q18)
def q_sql_tpch_q18(spark, sf_dir):
    """TPC-H Q18 (large-volume customers) through spark.sql, shared
    text on both engines.  The spec's aggregated-IN subquery is spelled
    as an inner join against the grouped qualifying CTE — equivalent
    because GROUP BY l_orderkey makes the keys unique — so the
    broadcast hint can pin it: HAVING > 300 keeps 5 / 46 / 473 orders
    at the bundled sfs, a tiny key set that at 100 TB must broadcast
    onto orders BEFORE the customer⋈orders⋈lineitem spine joins run
    (asserted with auto-broadcast off in tests/test_round3_ops.py).
    DuckDB reads the hint as a plain block comment."""
    _views(spark, sf_dir, "customer", "orders", "lineitem")
    return spark.sql(_TPCH_Q18)


@query(
    "q_anomaly_zscore",
    oracle="""
        WITH st AS (
            SELECT event_type,
                   CAST(SUM(CAST(round(value, 6) AS DECIMAL(18,6)))
                        AS DOUBLE) AS s,
                   CAST(SUM(CAST(round(value * value, 6) AS DECIMAL(18,6)))
                        AS DOUBLE) AS q,
                   CAST(COUNT(*) AS DOUBLE) AS n
            FROM events GROUP BY event_type
        )
        SELECT event_id, e.event_type,
               round((value - s / n) / sqrt((q - s * s / n) / (n - 1)), 4)
                   AS z,
               CAST(abs((value - s / n) / sqrt((q - s * s / n) / (n - 1))) > 3.0
                    AS INT) AS is_outlier
        FROM events e JOIN st ON e.event_type = st.event_type
    """,
)
def q_anomaly_zscore(spark, sf_dir):
    """Per-group z-score anomaly flagging: each event scored against
    its event_type's mean/stddev — the streaming-feed quality monitor
    (complements q_winsorize's percentile clamp with a moment-based
    outlier flag).

    Determinism: the moment sums (Σv, Σv²) ride DECIMAL(18,6) so both
    engines aggregate exactly; mean/variance/z are then derived with
    the identical double expression text on both sides — IEEE ops on
    identical inputs give identical bits, and z rounds to 4 places.
    Plan: one hash-agg over events (map-side combined) → broadcast
    join of the per-type moments back onto the stream — at 100 TB the
    stats table is |event_type| rows, so the scoring pass is
    shuffle-free."""
    ev = t(spark, sf_dir, "events")
    dec = lambda c: F.round(c, 6).cast("decimal(18,6)")  # noqa: E731
    st = ev.groupBy("event_type").agg(
        F.sum(dec(F.col("value"))).cast("double").alias("s"),
        F.sum(dec(F.col("value") * F.col("value"))).cast("double").alias("q"),
        F.count(F.lit(1)).cast("double").alias("n"),
    )
    z = (F.col("value") - F.col("s") / F.col("n")) / F.sqrt(
        (F.col("q") - F.col("s") * F.col("s") / F.col("n")) / (F.col("n") - 1)
    )
    return ev.join(F.broadcast(st), "event_type").select(
        "event_id",
        "event_type",
        F.round(z, 4).alias("z"),
        (F.abs(z) > 3.0).cast("int").alias("is_outlier"),
    )


@query(
    "q_scd2_build",
    oracle="""
        SELECT user_id, event_id, event_type,
               CAST(ts AS TIMESTAMP) AS valid_from,
               LEAD(CAST(ts AS TIMESTAMP)) OVER (
                   PARTITION BY user_id
                   ORDER BY CAST(ts AS TIMESTAMP), event_id) AS valid_to,
               CAST(LEAD(CAST(ts AS TIMESTAMP)) OVER (
                   PARTITION BY user_id
                   ORDER BY CAST(ts AS TIMESTAMP), event_id) IS NULL
                    AS INT) AS is_current
        FROM events
    """,
)
def q_scd2_build(spark, sf_dir):
    """SCD type-2 dimension build from an event stream: each user's
    events become validity intervals [valid_from, valid_to) with an
    is_current flag on the open-ended row — the change-history shape
    MERGE-based warehouses materialize.  One shuffle on user_id, one
    sorted pass per partition (lead); ties on ts break on event_id so
    interval boundaries are deterministic."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.col("ts").alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().cast("int").alias("is_current"),
    )


@query(
    "q_retention_cohort",
    oracle="""
        WITH a AS (
            SELECT DISTINCT user_id,
                   CAST(date_trunc('week', CAST(ts AS TIMESTAMP))
                        AS TIMESTAMP) AS wk
            FROM events
        ),
        first AS (SELECT user_id, MIN(wk) AS cohort_week FROM a GROUP BY 1)
        SELECT cohort_week,
               CAST(date_diff('day', cohort_week, wk) / 7 AS INT)
                   AS week_offset,
               COUNT(DISTINCT a.user_id) AS n_users
        FROM a JOIN first ON a.user_id = first.user_id
        GROUP BY 1, 2
    """,
)
def q_retention_cohort(spark, sf_dir):
    """Cohort retention matrix: users grouped by first-activity week,
    counted in every later week they return — the product-analytics
    staple.  Plan: week-truncate + distinct (one user-keyed shuffle),
    per-user min as a map-side-combined agg, self-join back on user_id
    (AQE reuses the user partitioning), then a (cohort, offset) agg
    whose output is weeks² rows — tiny.  All arithmetic is exact
    (dates), no double parity risk."""
    # Both engines keep the truncated week as TIMESTAMP (house pattern,
    # q_scalar_date): DuckDB's date_trunc on TIMESTAMP input returns
    # TIMESTAMP, and a DATE-vs-TIMESTAMP mix hash-mismatches in the
    # driver's pandas canonicalizer.
    ev = t(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("wk")
    ).distinct()
    first = ev.groupBy("user_id").agg(F.min("wk").alias("cohort_week"))
    return (
        ev.join(first, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (F.datediff(F.col("wk"), F.col("cohort_week")) / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


@query(
    "q_copurchase",
    oracle="""
        WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               COUNT(*) AS n_orders
        FROM lp a JOIN lp b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        ORDER BY n_orders DESC, part_a, part_b
        LIMIT 50
    """,
)
def q_copurchase(spark, sf_dir):
    """Co-occurrence edge build (market-basket / co-purchase graph):
    parts appearing in the same order, counted across orders, top-50
    pairs.  The self-join is keyed on l_orderkey whose fanout is the
    per-order line count (≤7 in TPC-H shapes) — output is O(rows ·
    lines_per_order), NOT quadratic in the table; the pair agg
    map-side-combines and the final top-k is TakeOrderedAndProject.
    The same shape builds token-co-occurrence graphs over documents.
    Pair generation is the shared array-local expansion
    (operators/graph.cooccurrence_pairs — one shuffle on l_orderkey,
    pairs produced inside the group array, ~2× the self-join's speed);
    the oracle keeps the equivalent self-join spelling."""
    from tmp_parquet_merge_spark.operators import graph

    return (
        graph.cooccurrence_pairs(
            t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey"),
            "l_orderkey",
            "l_partkey",
        )
        .select(F.col("a").alias("part_a"), F.col("b").alias("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.col("n_orders").desc(), "part_a", "part_b")
        .limit(50)
    )


@query("q_hll_rollup")
def q_hll_rollup(spark, sf_dir):
    """Mergeable-sketch rollup: per-day HLL sketches of distinct users
    per event_type, merged into per-type totals — the approximate twin
    of q_incremental_agg's lossless partial-state rollup and the
    pattern that makes 100 TB distinct-count dashboards incremental
    (store day-grain sketches, union on read; re-scanning history is
    never needed).  Uses Spark's DataSketches HLL aggregates
    (hll_sketch_agg / hll_union_agg / hll_sketch_estimate).  Rows-only:
    DuckDB has no compatible sketch — but the output carries the exact
    distinct count and the measured relative error per type (the
    recall_at_k pattern), so the driver-visible rows certify the 5%
    accuracy contract the tests pin.  The exact column is the verify
    stage; at open scale it drops and the sketches stand alone."""
    ev = t(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("day", F.col("ts")).alias("day"),
        "user_id",
    )
    daily = ev.groupBy("event_type", "day").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    rolled = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users"),
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return (
        rolled.join(exact, "event_type")
        .withColumn(
            "rel_err",
            F.round(
                F.abs(F.col("approx_users") - F.col("exact_users"))
                / F.col("exact_users"),
                4,
            ),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Time-series smoothing & sessionization
# ---------------------------------------------------------------------------

# Finite-horizon exponential smoothing: weights α(1-α)^i over the last
# H observations, normalized over the weights actually present.  Spelled
# as the SAME fixed left-to-right lag expression in both engines, so the
# double arithmetic is bit-identical; an unbounded-history EWMA would
# need recursion neither engine's window frames express.
_EWMA_ALPHA = 0.5
_EWMA_H = 8


def _ewma_terms():
    """(num, den) SQL fragments: Σ wᵢ·lag(value,i) and Σ wᵢ·present(i)."""
    num, den = [], []
    for i in range(_EWMA_H):
        w = _EWMA_ALPHA * (1.0 - _EWMA_ALPHA) ** i
        num.append(f"COALESCE({w!r} * LAG(value, {i}) OVER pw, 0.0)")
        den.append(
            f"CASE WHEN LAG(value, {i}) OVER pw IS NOT NULL"
            f" THEN {w!r} ELSE 0.0 END"
        )
    return " + ".join(num), " + ".join(den)


_EWMA_SQL = """
    SELECT event_id, user_id, value,
           round(({num}) / ({den}), 4) AS ewma
    FROM events
    WINDOW pw AS (PARTITION BY user_id ORDER BY ts, event_id)
""".format(num=_ewma_terms()[0], den=_ewma_terms()[1])


@query(
    "q_ewma",
    oracle=_EWMA_SQL.replace("FROM events", "FROM (SELECT event_id, user_id, value, CAST(ts AS TIMESTAMP) AS ts FROM events) e"),
)
def q_ewma(spark, sf_dir):
    """Per-user exponential smoothing of the event value stream
    (α=0.5, 8-lag horizon) — the monitoring/feature-engineering
    smoother.  One shuffle on user_id, one sorted pass; the 8 LAGs
    share a single window frame so Spark evaluates them in one
    WindowExec with one sort.  Identical expression text on both
    engines keeps the IEEE arithmetic bit-equal."""
    _views(spark, sf_dir, "events")
    return spark.sql(_EWMA_SQL)


_SESSIONIZE_SQL = """
    WITH g AS (
        SELECT user_id, event_id, ts, value,
               CASE WHEN LAG(ts) OVER pw IS NULL
                         OR ts > LAG(ts) OVER pw + INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW pw AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
        SELECT *, SUM(is_new) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS session_seq
        FROM g
    )
    SELECT user_id, CAST(session_seq AS INT) AS session_seq,
           COUNT(*) AS n_events,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           CAST(date_diff('SECOND', MIN(ts), MAX(ts)) AS BIGINT)
               AS duration_s
    FROM s
    GROUP BY user_id, session_seq
"""


@query(
    "q_sessionize",
    oracle=_SESSIONIZE_SQL.replace(
        "FROM events",
        "FROM (SELECT user_id, event_id, value,"
        " CAST(ts AS TIMESTAMP) AS ts FROM events) e",
    ),
)
def q_sessionize(spark, sf_dir):
    """Batch sessionization by 30-minute inactivity gap: the classic
    lag→flag→running-sum session-id assignment, then per-session
    stats — the batch twin of q_window_session's native session_window
    (that one merges state streamingly; this one owns the whole
    history).  ONE shuffle on user_id serves the two window passes and
    the final agg (same key, Catalyst reuses the exchange); duration
    arithmetic is exact integer seconds.  Shared SQL on both engines
    modulo DuckDB's date_diff spelling (Spark side uses
    unix_timestamp subtraction, same integer result)."""
    _views(spark, sf_dir, "events")
    return spark.sql(
        _SESSIONIZE_SQL.replace(
            "CAST(date_diff('SECOND', MIN(ts), MAX(ts)) AS BIGINT)",
            "CAST(unix_timestamp(MAX(ts)) - unix_timestamp(MIN(ts)) AS BIGINT)",
        )
    )


def _pagerank_oracle(n_iter: int) -> str:
    """Unrolled damped PageRank as one DuckDB query — iteration-for-
    iteration the SQL spelling of graph.pagerank over the symmetrized
    part co-purchase edges (no dangling nodes by symmetry, so the
    dangling-mass term is identically zero on both sides).  Float
    literals mirror Spark's arithmetic exactly: the teleport term is
    spelled ``(1 - 0.85) / n`` because Spark computes it driver-side
    as Python ``(1.0 - damping) / n_nodes`` — and IEEE ``1 - 0.85``
    is 0.15000000000000002, one ulp off a literal ``0.15``."""
    cte = [
        "lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)",
        """e0 AS (
            SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
            FROM lp a JOIN lp b
              ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey < b.l_partkey
        )""",
        """e AS (SELECT a AS src, b AS dst FROM e0
             UNION ALL SELECT b, a FROM e0)""",
        "deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY 1)",
        "nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM deg)",
        """r0 AS (SELECT d.src AS node, d.deg,
                         CAST(1 AS DOUBLE) / nn.n AS rank
                  FROM deg d CROSS JOIN nn)""",
    ]
    for k in range(1, n_iter + 1):
        cte.append(
            f"""r{k} AS (
            SELECT d.src AS node, d.deg,
                   (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
                   + CAST(0.85 AS DOUBLE)
                     * COALESCE(c.inflow, CAST(0 AS DOUBLE)) AS rank
            FROM deg d CROSS JOIN nn
            LEFT JOIN (
                SELECT e.dst AS node, SUM(r.rank / r.deg) AS inflow
                FROM r{k - 1} r JOIN e ON e.src = r.node
                GROUP BY 1
            ) c ON c.node = d.src
        )"""
        )
    return (
        "WITH "
        + ",\n".join(cte)
        + f"""
        SELECT node, round(rank, 6) AS rank,
               CAST({n_iter} AS INTEGER) AS n_iter
        FROM r{n_iter}"""
    )


@query("q_pagerank", oracle=_pagerank_oracle(10))
def q_pagerank(spark, sf_dir):
    """PageRank over the part co-purchase graph (parts linked when
    they share an order, symmetrized): the canonical iterative
    join-aggregate, 10 damped rounds — the same loop discipline
    (persisted pre-partitioned edges, scalar-only driver traffic) as
    k-means and connected components.  Oracle: a fixed 10-round
    unrolled CTE chain — the registered query pins ``tol=0`` so the
    round count is closed-form at every sf (the L1 early exit stays
    exercised in tests/test_graph.py); ranks round to 6 decimals on
    both sides, far above the ~1e-13 cross-engine summation-order
    noise.  The local test additionally pins the result against a
    dense NumPy reference."""
    from tmp_parquet_merge_spark.operators import graph

    pairs = graph.cooccurrence_pairs(
        t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey"),
        "l_orderkey",
        "l_partkey",
    ).distinct()
    edges = graph.symmetrize(pairs, "a", "b")
    # tol=0: all 10 rounds always run, so the unrolled oracle's round
    # count holds at every sf (and no per-check scalar reads at all —
    # strictly fewer driver round-trips than the tol>0 spelling); a
    # symmetrized graph also skips the dangling branch entirely
    # (probed once); checkpoint_every=2 batches two join-aggregate
    # rounds per eager job (per-job scheduling overhead dominates on
    # a 20k-node state).  num_partitions pins the loop's node-hash
    # layout: 2.4M edges / 20k nodes at sf0.1 fit 8 partitions
    # comfortably; on a cluster this scales with edge bytes
    # (~128 MB/partition), not a constant.
    # symmetric=True: the edges come from symmetrize(), so the node
    # set is the out-degree key set — the nodes union+distinct pass,
    # the degree left-join and the dangling probe all drop out
    # (results identical by construction).  The
    # small-state broadcast gate then removes both per-round state
    # exchanges at bench scale while the >100k-node path keeps the
    # pre-partitioned sort-merge loop — see graph.pagerank's docstring
    # for the measured A/B.
    return graph.pagerank(
        edges,
        damping=0.85,
        max_iter=10,
        tol=0,
        checkpoint_every=2,
        num_partitions=8,
        symmetric=True,
    )


@query(
    "q_gapfill",
    oracle="""
        SELECT event_id, user_id,
               masked AS raw_value,
               last_value(masked IGNORE NULLS) OVER (
                   PARTITION BY user_id
                   ORDER BY CAST(ts AS TIMESTAMP), event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS filled
        FROM (
            SELECT event_id, user_id, ts,
                   CASE WHEN event_type = 'view' THEN NULL ELSE value END
                       AS masked
            FROM events
        ) m
    """,
)
def q_gapfill(spark, sf_dir):
    """Sensor-style gap filling: mask one event class to NULL, then
    carry the last observation forward per user (last_value IGNORE
    NULLS over an unbounded-preceding frame) — the row-level
    complement of q_resample_ffill's grid resample.  One shuffle on
    user_id, one sorted pass; leading NULLs (no prior observation)
    stay NULL, faithfully."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events").withColumn(
        "masked",
        F.when(F.col("event_type") == "view", F.lit(None).cast("double"))
        .otherwise(F.col("value")),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.col("masked").alias("raw_value"),
        F.last("masked", ignorenulls=True).over(w).alias("filled"),
    )


@query(
    "q_props_parse",
    oracle="""
        SELECT event_type,
               COUNT(k) AS n_with_k,
               CAST(MIN(k) AS INT) AS min_k,
               CAST(MAX(k) AS INT) AS max_k,
               CAST(SUM(k) AS BIGINT) AS sum_k
        FROM (
            SELECT event_type,
                   CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
            FROM events
        ) j
        GROUP BY event_type
        ORDER BY event_type
    """,
)
def q_props_parse(spark, sf_dir):
    """Semi-structured payload parsing: the JSON props column parsed
    into a typed struct (from_json with an explicit schema — schema
    enforced at scan speed, invalid rows become NULLs, never errors)
    and aggregated per event type.  All-integer aggregates, so parity
    is exact.  At 100 TB the rule is the same as here: parse ONCE into
    typed columns, aggregate the typed form; never re-parse JSON per
    expression."""
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField("k", T.IntegerType(), True)])
    ev = t(spark, sf_dir, "events").withColumn(
        "k", F.from_json("props", schema)["k"]
    )
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.sum("k").alias("sum_k"),
        )
        .orderBy("event_type")
    )


@query(
    "q_quantile_norm",
    oracle="""
        SELECT doc_id, n_chars,
               round(CAST(rk - 1 AS DOUBLE) / (cnt - 1), 6) AS q_norm
        FROM (
            SELECT doc_id, n_chars,
                   RANK() OVER (ORDER BY n_chars, doc_id) AS rk,
                   COUNT(*) OVER () AS cnt
            FROM documents
        ) r
    """,
)
def q_quantile_norm(spark, sf_dir):
    """Quantile (rank) normalization of a feature column to [0,1] —
    the model-input scaling that is robust to outliers where min-max
    scaling is not.  rank ties break on doc_id so the mapping is a
    deterministic bijection.

    A naive rank().over(Window.orderBy(...)) with no partitionBy plans
    Exchange SinglePartition — every row through ONE task, the classic
    100 TB scale-killer.  Scalable form instead: bucket the
    rows by k-bounded percentile cut points (one tiny driver pull, the
    centroid-init pattern), rank WITHIN each bucket via a partition-
    local window, and add per-bucket offsets (second k-bounded pull,
    ≤ n_buckets rows).  Global rank = offset[bucket] + local rank; no
    single-partition exchange anywhere in the plan (asserted in
    tests/test_plans.py).  Ranks are identical for ANY choice of cut
    points because (n_chars, doc_id) is a unique total order — the
    cuts only balance work."""
    from pyspark.sql import Window

    d = t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    n_buckets = 32
    # k-bounded driver pulls: ≤ 31 cut values, then ≤ 32 count rows.
    cuts = d.agg(
        F.percentile_approx(
            "n_chars", [i / n_buckets for i in range(1, n_buckets)], 10_000
        ).alias("c")
    ).first()["c"]
    cuts = sorted(set(cuts or []))
    if cuts:
        bucket = F.aggregate(
            F.array(*[F.lit(c) for c in cuts]),
            F.lit(0),
            lambda acc, c: acc + F.when(F.col("n_chars") > c, 1).otherwise(0),
        )
    else:
        bucket = F.lit(0)
    b = d.withColumn("bucket", bucket)
    counts = {
        r["bucket"]: r["cnt"]
        for r in b.groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    total = sum(counts.values())
    offsets, acc = {}, 0
    for k in sorted(counts):
        offsets[k] = acc
        acc += counts[k]
    off = F.element_at(
        F.create_map(
            *[F.lit(x) for kv in sorted(offsets.items()) for x in kv]
        ),
        F.col("bucket"),
    )
    local = F.row_number().over(
        Window.partitionBy("bucket").orderBy("n_chars", "doc_id")
    )
    return b.select(
        "doc_id",
        "n_chars",
        F.round(
            (off + local - 1).cast("double") / F.lit(float(total - 1)), 6
        ).alias("q_norm"),
    )


@query(
    "q_cdc_apply",
    oracle="""
        WITH log AS (
            SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
                   CASE event_type WHEN 'signup' THEN 'I'
                                   WHEN 'error'  THEN 'D'
                                   ELSE 'U' END AS op,
                   value
            FROM events
        ),
        latest AS (
            SELECT user_id, op, value, ts,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id
                       ORDER BY ts DESC, event_id DESC) AS rn
            FROM log
        )
        SELECT user_id, round(value, 6) AS last_value, ts AS last_ts
        FROM latest
        WHERE rn = 1 AND op <> 'D'
        ORDER BY user_id
    """,
)
def q_cdc_apply(spark, sf_dir):
    """Change-data-capture log replay: the event stream read as an
    ordered I/U/D changelog per key, materialized to current state by
    last-writer-wins — rows whose final operation is a delete vanish.
    This is the log-compaction half of MERGE (q_upsert is the two-
    table half): ONE shuffle on the key, per-partition sort, the
    row_number filter executes as WindowGroupLimit so each key ships
    only its winning row out of the window stage."""
    from pyspark.sql import Window

    log = t(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "signup", "I")
        .when(F.col("event_type") == "error", "D")
        .otherwise("U")
        .alias("op"),
        "value",
    )
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        log.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "D"))
        .select(
            "user_id",
            F.round("value", 6).alias("last_value"),
            F.col("ts").alias("last_ts"),
        )
        .orderBy("user_id")
    )


@query(
    "q_novelty",
    oracle="""
        WITH a AS (
            SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
                       AS h
            FROM documents WHERE doc_id % 2 = 0
        ),
        b AS (
            SELECT doc_id, source,
                   md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
                       AS h
            FROM documents WHERE doc_id % 2 = 1
        )
        SELECT doc_id, source FROM b
        WHERE NOT EXISTS (SELECT 1 FROM a WHERE a.h = b.h)
        ORDER BY doc_id
    """,
)
def q_novelty(spark, sf_dir):
    """Incremental-crawl novelty filter: which documents of the new
    batch (odd ids) are content-new vs the existing corpus (even
    ids) — an anti join on the normalized-content digest, so the
    shuffle carries 16-byte hashes, never bodies.  The daily dedup
    gate of a continuously-crawling pipeline; at 100 TB the existing
    side is a pre-built digest table and AQE turns the join into a
    broadcast when the new batch is small."""
    from tmp_parquet_merge_spark.operators.dedup import normalize_text

    d = t(spark, sf_dir, "documents")
    h = F.md5(normalize_text("text"))
    old = d.filter(F.col("doc_id") % 2 == 0).select(h.alias("h"))
    new = d.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "source", h.alias("h")
    )
    return (
        new.join(old, "h", "left_anti").select("doc_id", "source").orderBy("doc_id")
    )


@query(
    "q_time_weighted_avg",
    oracle="""
        WITH s AS (
            SELECT user_id, value, CAST(ts AS TIMESTAMP) AS ts, event_id,
                   LEAD(CAST(ts AS TIMESTAMP)) OVER (
                       PARTITION BY user_id
                       ORDER BY CAST(ts AS TIMESTAMP), event_id) AS nxt
            FROM events
        ),
        d AS (
            SELECT user_id, value,
                   CAST(date_diff('SECOND', ts, nxt) AS BIGINT) AS dt
            FROM s WHERE nxt IS NOT NULL
        )
        SELECT user_id,
               CAST(SUM(CAST(value * dt AS DECIMAL(18,6))) AS DOUBLE)
                   / SUM(dt) AS twa,
               CAST(SUM(dt) AS BIGINT) AS total_s
        FROM d
        GROUP BY user_id
        HAVING SUM(dt) > 0
        ORDER BY user_id
    """,
)
def q_time_weighted_avg(spark, sf_dir):
    """Time-weighted average of a sampled signal per user: each value
    weighted by how long it held (seconds to the next observation) —
    the correct mean for irregularly-sampled telemetry, where the
    arithmetic mean over-weights bursts.  One shuffle on user_id
    serves both the lead() and the aggregate; weights are exact
    integer seconds and the weighted sum rides DECIMAL(18,6), so the
    single final division is bit-identical across engines."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = t(spark, sf_dir, "events").select(
        "user_id", "value", "ts", "event_id", F.lead("ts").over(w).alias("nxt")
    )
    d = s.filter(F.col("nxt").isNotNull()).select(
        "user_id",
        "value",
        (F.unix_timestamp("nxt") - F.unix_timestamp("ts")).alias("dt"),
    )
    return (
        d.groupBy("user_id")
        .agg(
            (
                F.sum((F.col("value") * F.col("dt")).cast("decimal(18,6)"))
                .cast("double")
                / F.sum("dt")
            ).alias("twa"),
            F.sum("dt").alias("total_s"),
        )
        .filter(F.col("total_s") > 0)
        .orderBy("user_id")
    )


@query(
    "q_transition_matrix",
    oracle="""
        WITH s AS (
            SELECT user_id, event_type,
                   LEAD(event_type) OVER (
                       PARTITION BY user_id
                       ORDER BY CAST(ts AS TIMESTAMP), event_id) AS nxt
            FROM events
        ),
        c AS (
            SELECT event_type AS from_type, nxt AS to_type, COUNT(*) AS n
            FROM s WHERE nxt IS NOT NULL GROUP BY 1, 2
        ),
        tot AS (SELECT from_type, SUM(n) AS row_n FROM c GROUP BY 1)
        SELECT c.from_type, c.to_type, n,
               round(CAST(n AS DOUBLE) / row_n, 6) AS p
        FROM c JOIN tot ON c.from_type = tot.from_type
        ORDER BY c.from_type, c.to_type
    """,
)
def q_transition_matrix(spark, sf_dir):
    """User-journey Markov transitions: counts and row-normalized
    probabilities of event_type → next event_type per user timeline —
    the funnel-discovery / session-model primitive.  The lead()
    shuffles once on user_id; the count table is |types|² rows, so the
    normalizing join is trivially broadcast.  Probabilities divide two
    exact integers, deterministic in both engines."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.lead("event_type").over(w).alias("nxt"),
    )
    c = (
        s.filter(F.col("nxt").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("nxt").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = c.groupBy("from_type").agg(F.sum("n").alias("row_n"))
    return (
        c.join(F.broadcast(tot), "from_type")
        .select(
            "from_type",
            "to_type",
            "n",
            F.round(F.col("n").cast("double") / F.col("row_n"), 6).alias("p"),
        )
        .orderBy("from_type", "to_type")
    )


@query(
    "q_triangle_count",
    oracle="""
        WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
                    WHERE l_partkey < 500),
        e AS (
            SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
            FROM lp a JOIN lp b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        )
        SELECT COUNT(*) AS n_triangles,
               (SELECT COUNT(*) FROM e) AS n_edges
        FROM e e1
        JOIN e e2 ON e1.v = e2.u
        JOIN e e3 ON e1.u = e3.u AND e2.v = e3.v
    """,
)
def q_triangle_count(spark, sf_dir):
    """Triangle counting on the co-purchase graph — the graph-analytics
    primitive behind clustering coefficients and community detection,
    and the oracle-CHECKABLE complement to the iterative q_pagerank.
    Uses the ordered-edge formulation (u<v edges; join e1.v=e2.u then
    close u→e2.v), so each triangle counts exactly once and the join
    never materializes both directions.  Input capped to parts < 500
    (triangle enumeration is O(E^1.5) worst-case — same verify-twin
    contract as the dedup pair twins); the uncapped path would ride a
    degree-ordered orientation at 100 TB."""
    from tmp_parquet_merge_spark.operators import graph

    e = (
        graph.cooccurrence_pairs(
            t(spark, sf_dir, "lineitem")
            .filter(F.col("l_partkey") < 500)
            .select("l_orderkey", "l_partkey"),
            "l_orderkey",
            "l_partkey",
        )
        .select(F.col("a").alias("u"), F.col("b").alias("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.v") == F.col("e2.u"))
        .join(
            e3,
            (F.col("e1.u") == F.col("e3.u"))
            & (F.col("e2.v") == F.col("e3.v")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return tri.crossJoin(
        F.broadcast(e.agg(F.count(F.lit(1)).alias("n_edges")))
    )


@query(
    "q_anomaly_mad",
    oracle="""
        WITH med AS (
            SELECT event_type,
                   round(quantile_cont(value, 0.5), 6) AS med
            FROM events GROUP BY 1
        ),
        mad AS (
            SELECT e.event_type,
                   round(quantile_cont(abs(e.value - m.med), 0.5), 6) AS mad
            FROM events e JOIN med m USING (event_type)
            GROUP BY 1
        )
        SELECT e.event_id, e.event_type, e.value,
               round((e.value - m.med) / (1.4826 * NULLIF(d.mad, 0)), 6)
                   AS robust_z
        FROM events e
        JOIN med m USING (event_type)
        JOIN mad d USING (event_type)
        WHERE abs((e.value - m.med) / (1.4826 * NULLIF(d.mad, 0))) > 3.0
    """,
)
def q_anomaly_mad(spark, sf_dir):
    """Robust anomaly detection: per-event-type median + median
    absolute deviation, flagging |robust z| > 3 (z = (x − med) /
    (1.4826·MAD) — the consistency constant makes MAD comparable to a
    standard deviation).  Unlike mean/stddev z-scores, the thresholds
    themselves are outlier-immune.  Two grouped exact quantiles (tiny
    per-type state frames that broadcast back onto the fact scan) and
    a final filter; at 100 TB both quantiles swap 1:1 for
    percentile_approx, exactly as q_percentiles → q_agg_sketch.
    Median/MAD are rounded to 6 before the z computation so both
    engines divide identical doubles; zero-MAD groups yield NULL z and
    drop out of the > 3 filter in both engines."""
    e = t(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(
        F.round(F.percentile("value", 0.5), 6).alias("med")
    )
    mad = (
        e.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(
                F.percentile(F.abs(F.col("value") - F.col("med")), 0.5), 6
            ).alias("mad")
        )
    )
    z = F.round(
        (F.col("value") - F.col("med"))
        / (1.4826 * F.nullif(F.col("mad"), F.lit(0.0))),
        6,
    )
    return (
        e.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .withColumn("robust_z", z)
        .filter(
            F.abs(
                (F.col("value") - F.col("med"))
                / (1.4826 * F.nullif(F.col("mad"), F.lit(0.0)))
            )
            > 3.0
        )
        .select("event_id", "event_type", "value", "robust_z")
    )


@query(
    "q_rolling_median",
    oracle="""
        SELECT event_id, user_id, value,
               round(quantile_cont(value, 0.5) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 24 PRECEDING AND CURRENT ROW), 6)
                   AS rolling_med
        FROM events
    """,
)
def q_rolling_median(spark, sf_dir):
    """Rolling 25-event median of each user's value stream — the
    robust counterpart of q_ewma's exponential mean (one spiked
    reading cannot drag a median-smoothed baseline).  Spark exact
    `percentile` over a ROWS frame ≙ DuckDB windowed quantile_cont
    (same interpolation, rounded to 6); frame order is (ts, event_id)
    so ties resolve identically in both engines.  One shuffle on
    user_id, one sorted pass, O(frame) state per row — at 100 TB this
    is the same single-window-stage shape as q_ewma, and a t-digest
    sketch replaces the exact frame median if the frame ever widens
    to unbounded."""
    from pyspark.sql import Window

    e = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-24, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        "value",
        F.round(F.percentile("value", 0.5).over(w), 6).alias("rolling_med"),
    )


@query(
    "q_variant_extract",
    oracle="""
        SELECT event_id,
               CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_int,
               json_extract_string(props, '$.k') AS k_str,
               CAST(len(json_keys(props)) AS INTEGER) AS n_fields
        FROM events
    """,
)
def q_variant_extract(spark, sf_dir):
    """Semi-structured payloads through Spark 4's VARIANT type:
    parse_json once, then typed variant_get extractions — the
    open-schema column pattern (one binary-encoded tree per row,
    field access without a declared struct schema, unlike the rigid
    from_json of q_props_parse).  VARIANT stays an internal encoding;
    the query projects typed columns out, so the scan reads only
    `props`, the parse runs once per row inside codegen, and nothing
    non-hashable reaches the sink.  Oracle spells the same accesses
    with DuckDB's JSON functions."""
    e = t(spark, sf_dir, "events")
    v = F.parse_json("props")
    return e.select(
        "event_id",
        F.variant_get(v, "$.k", "int").alias("k_int"),
        F.variant_get(v, "$.k", "string").alias("k_str"),
        F.json_object_keys("props").alias("_keys"),
    ).select(
        "event_id",
        "k_int",
        "k_str",
        F.size("_keys").cast("int").alias("n_fields"),
    )


@query(
    "q_except_all",
    oracle="""
        SELECT o_custkey AS custkey FROM orders
        EXCEPT ALL
        SELECT c_custkey FROM customer
    """,
)
def q_except_all(spark, sf_dir):
    """Bag-semantics difference (EXCEPT ALL): each customer's order
    multiplicity minus their one customer row — multi-order customers
    survive n−1 times, the multiset algebra DISTINCT-based EXCEPT
    destroys.  Catalyst plans exceptAll as a single hash-agg of signed
    counts (+1/−1 per side) followed by a generate — one shuffle on
    the key, no join."""
    o = t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("custkey"))
    c = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey")
    )
    return o.exceptAll(c)


@query(
    "q_intersect_all",
    oracle="""
        SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
        INTERSECT ALL
        SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
)
def q_intersect_all(spark, sf_dir):
    """Bag-semantics intersection (INTERSECT ALL): per key, min of the
    two sides' multiplicities — here "open orders" ∩ "urgent orders"
    per customer, counting pairs.  Same single-shuffle signed-count
    plan family as q_except_all; both are the multiset primitives
    under audit-style reconciliation queries."""
    o = t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("custkey")
    )
    b = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("custkey")
    )
    return a.intersectAll(b)


@query(
    "q_islands",
    oracle="""
        WITH r AS (
            SELECT user_id, event_id,
                   event_id - ROW_NUMBER() OVER (
                       PARTITION BY user_id ORDER BY event_id) AS grp
            FROM events
        )
        SELECT user_id,
               MIN(event_id) AS island_start,
               MAX(event_id) AS island_end,
               COUNT(*) AS island_len
        FROM r
        GROUP BY user_id, grp
        ORDER BY user_id, island_start
    """,
)
def q_islands(spark, sf_dir):
    """Gaps-and-islands: maximal runs of consecutive event_ids per
    user (the classic sequence-integrity / missing-data detector —
    each gap between islands is a lost id range).  The id−row_number
    trick turns run detection into a constant per run, so the whole
    query is one user-keyed window pass plus a hash-agg on the same
    key — Catalyst reuses the exchange, and nothing global ever
    sorts.  Identical arithmetic on both engines; integer output."""
    from pyspark.sql import Window

    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    r = e.select(
        "user_id",
        "event_id",
        (F.col("event_id") - F.row_number().over(w)).alias("grp"),
    )
    return (
        r.groupBy("user_id", "grp")
        .agg(
            F.min("event_id").alias("island_start"),
            F.max("event_id").alias("island_end"),
            F.count(F.lit(1)).alias("island_len"),
        )
        .drop("grp")
        .orderBy("user_id", "island_start")
    )


@query(
    "q_join_nullsafe",
    oracle="""
        WITH l AS (
            SELECT event_id,
                   NULLIF(CAST(json_extract_string(props, '$.k') AS INTEGER)
                          % 10, 0) AS kmod
            FROM events WHERE event_id % 7 = 0
        ),
        r AS (
            SELECT NULLIF(CAST(json_extract_string(props, '$.k') AS INTEGER)
                          % 10, 0) AS kmod,
                   COUNT(*) AS n_all
            FROM events GROUP BY 1
        )
        SELECT l.event_id, l.kmod, r.n_all
        FROM l JOIN r ON l.kmod IS NOT DISTINCT FROM r.kmod
    """,
)
def q_join_nullsafe(spark, sf_dir):
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): the NULL
    bucket joins to the NULL dim row instead of silently dropping —
    the semantics plain equality destroys on keys with missing values
    (here ~10% of rows, manufactured deterministically via NULLIF).
    Spark plans eqNullSafe exactly like an equi join (the key is
    coalesced into a comparable form), so the dim side still
    broadcasts and no row explosion occurs."""
    e = t(spark, sf_dir, "events")
    kmod = F.nullif(
        F.get_json_object("props", "$.k").cast("int") % 10, F.lit(0)
    )
    left = e.filter(F.col("event_id") % 7 == 0).select(
        "event_id", kmod.alias("kmod")
    )
    right = (
        e.select(kmod.alias("rkmod"))
        .groupBy("rkmod")
        .agg(F.count(F.lit(1)).alias("n_all"))
    )
    return (
        left.join(
            F.broadcast(right), left.kmod.eqNullSafe(F.col("rkmod"))
        )
        .select("event_id", "kmod", "n_all")
    )


@query(
    "q_join_asof_nearest",
    oracle="""
        WITH o AS (
            SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS okey
            FROM orders GROUP BY o_custkey, o_orderdate
        ),
        b AS (
            SELECT e.event_id, e.user_id, e.ts, o.okey AS b_key,
                   o.o_orderdate AS b_date
            FROM events e
            ASOF LEFT JOIN o
              ON e.user_id = o.o_custkey
             AND o.o_orderdate <= CAST(e.ts AS TIMESTAMP)
        ),
        f AS (
            SELECT e.event_id, o.okey AS f_key, o.o_orderdate AS f_date
            FROM events e
            ASOF LEFT JOIN o
              ON e.user_id = o.o_custkey
             AND o.o_orderdate >= CAST(e.ts AS TIMESTAMP)
        )
        SELECT b.event_id, b.user_id,
               CASE WHEN f.f_key IS NULL THEN b.b_key
                    WHEN b.b_key IS NULL THEN f.f_key
                    WHEN date_diff('SECOND', b.b_date, CAST(b.ts AS TIMESTAMP))
                         <= date_diff('SECOND', CAST(b.ts AS TIMESTAMP), f.f_date)
                    THEN b.b_key ELSE f.f_key END AS nearest_orderkey
        FROM b JOIN f ON b.event_id = f.event_id
    """,
)
def q_join_asof_nearest(spark, sf_dir):
    """Nearest as-of join: for each event, the order closest in time
    in EITHER direction (backward on ties — pandas merge_asof
    direction='nearest' semantics).  Composed from the two existing
    single-shuffle union-merge as-of passes (operators/relational.py)
    plus an event-keyed recombine; no inequality join, no per-key
    explosion, so the 100 TB cost is two key-shuffles of |L|+|R| and
    one join on the unique event id."""
    e = t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("okey"))
        .withColumnRenamed("o_custkey", "user_id")
    )
    from tmp_parquet_merge_spark.operators.relational import asof_join

    back = asof_join(
        e,
        o.withColumnRenamed("o_orderdate", "b_date")
        .withColumnRenamed("okey", "b_key")
        .withColumn("__rtb", F.col("b_date")),
        on="user_id",
        left_time="ts",
        right_time="__rtb",
        right_values=["b_key", "b_date"],
        direction="backward",
    )
    fwd = asof_join(
        e.select("event_id", "user_id", "ts"),
        o.withColumnRenamed("o_orderdate", "f_date")
        .withColumnRenamed("okey", "f_key")
        .withColumn("__rtf", F.col("f_date")),
        on="user_id",
        left_time="ts",
        right_time="__rtf",
        right_values=["f_key", "f_date"],
        direction="forward",
    ).select("event_id", "f_key", "f_date")
    j = back.join(fwd, "event_id")
    b_gap = F.unix_timestamp("ts") - F.unix_timestamp("b_date")
    f_gap = F.unix_timestamp("f_date") - F.unix_timestamp("ts")
    nearest = (
        F.when(F.col("f_key").isNull(), F.col("b_key"))
        .when(F.col("b_key").isNull(), F.col("f_key"))
        .when(b_gap <= f_gap, F.col("b_key"))
        .otherwise(F.col("f_key"))
    )
    return j.select(
        "event_id", "user_id", nearest.alias("nearest_orderkey")
    )


# ---------------------------------------------------------------------------
# Round-5 SQL-surface + ops additions: LATERAL, recursive CTE, skew
# profiling
# ---------------------------------------------------------------------------

_LATERAL_TOPN = """
    SELECT n.n_name, c.c_custkey, c.c_acctbal
    FROM nation n,
    LATERAL (
        SELECT c_custkey, c_acctbal FROM customer
        WHERE c_nationkey = n.n_nationkey
        ORDER BY c_acctbal DESC, c_custkey
        LIMIT 3
    ) c
"""


@query("q_lateral_topn", oracle=_LATERAL_TOPN)
def q_lateral_topn(spark, sf_dir):
    """Correlated LATERAL subquery with ORDER BY ... LIMIT — per-nation
    top-3 customers by balance.  The SQL-surface twin of grouped top-k
    (q_window_topk): Catalyst decorrelates the lateral into a
    partitioned rank filter, so the plan is the same
    shuffle-by-key + per-group sort-limit as the Window spelling — no
    per-outer-row re-execution survives optimization.  Shared SQL text
    on both engines."""
    for n in ("nation", "customer"):
        t(spark, sf_dir, n).createOrReplaceTempView(n)
    return spark.sql(_LATERAL_TOPN)


_RECURSIVE_REACH_ORACLE = """
    WITH RECURSIVE d AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    p AS (
        SELECT da.l_partkey AS a, db.l_partkey AS b
        FROM d da JOIN d db
          ON da.l_orderkey = db.l_orderkey
         AND da.l_partkey < db.l_partkey
        GROUP BY 1, 2
        HAVING COUNT(*) >= 2
    ),
    edges AS (
        SELECT a, b FROM p
        UNION ALL
        SELECT b AS a, a AS b FROM p
    ),
    seeds AS (
        SELECT a AS node FROM edges GROUP BY a
        ORDER BY COUNT(*) DESC, a LIMIT 20
    ),
    r(seed, node, depth) AS (
        SELECT node AS seed, node, 0 AS depth FROM seeds
        UNION ALL
        SELECT r.seed, e.b AS node, r.depth + 1 AS depth
        FROM r JOIN edges e ON r.node = e.a
        WHERE r.depth < 2
    )
    SELECT seed, COUNT(DISTINCT node) AS n_reach, MAX(depth) AS max_depth
    FROM r GROUP BY seed
"""

_RECURSIVE_REACH_SPARK = """
    WITH RECURSIVE r(seed, node, depth) AS (
        SELECT node AS seed, node, 0 AS depth FROM (
            SELECT a AS node FROM __rc_edges GROUP BY a
            ORDER BY COUNT(*) DESC, a LIMIT 20
        )
        UNION ALL
        SELECT r.seed, e.b AS node, r.depth + 1 AS depth
        FROM r JOIN __rc_edges e ON r.node = e.a
        WHERE r.depth < 2
    )
    SELECT seed, COUNT(DISTINCT node) AS n_reach, MAX(depth) AS max_depth
    FROM r GROUP BY seed
"""


@query("q_recursive_cte", oracle=_RECURSIVE_REACH_ORACLE)
def q_recursive_cte(spark, sf_dir):
    """WITH RECURSIVE (Spark 4 recursive CTE): 2-hop reachability over
    the strong co-purchase graph (part pairs sharing ≥2 distinct
    orders), from the 20 highest-degree seeds.  The recursion frontier
    is depth-capped in the recursive member, so each round is one
    shuffled join against the (bounded) edge relation — the SQL-native
    spelling of the iterative join-aggregate loop q_pagerank runs
    imperatively.  UNION ALL + terminal COUNT(DISTINCT ...) keeps
    duplicate paths out of the answer without per-round dedup.

    The edge relation is built ONCE with the one-shuffle
    cooccurrence_pairs array expansion (operators/graph.py) and
    checkpointed (eager=False) before the recursion: Spark inlines (re-derives)
    plain CTEs per reference, so the 600k×600k order self-join would
    otherwise run for the seed scan AND every recursion round — 9.6 s
    → ~2 s at sf0.1.  The oracle spells the same edge set relationally
    (distinct (order, part) self-join)."""
    from tmp_parquet_merge_spark.operators import graph

    pairs = graph.cooccurrence_pairs(
        t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey"),
        "l_orderkey",
        "l_partkey",
    )
    strong = (
        pairs.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("a", "b")
    )
    edges = strong.unionByName(
        strong.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint(eager=False)
    edges.createOrReplaceTempView("__rc_edges")
    return spark.sql(_RECURSIVE_REACH_SPARK)


_SKEW_COL = """
    c{i} AS (
        SELECT {col} AS k, COUNT(*) AS cnt FROM {tbl} GROUP BY 1
    ),
    s{i} AS (
        SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows,
               COUNT(*) AS n_keys,
               CAST(MAX(cnt) AS BIGINT) AS max_cnt
        FROM c{i}
    ),
    t{i} AS (
        SELECT CAST(SUM(cnt) AS BIGINT) AS top_sum
        FROM (SELECT cnt FROM c{i} ORDER BY cnt DESC, k LIMIT 10)
    ),
    o{i} AS (
        SELECT '{tbl}.{col}' AS key_col, n_rows, n_keys, max_cnt,
               round(CAST(max_cnt AS DOUBLE) / n_rows, 6) AS top1_share,
               round(CAST(top_sum AS DOUBLE) / n_rows, 6) AS top10_share,
               round(CAST(max_cnt AS DOUBLE) * n_keys / n_rows, 6)
                   AS skew_factor
        FROM s{i}, t{i}
    )
"""

_SKEW_TARGETS = [
    ("lineitem", "l_partkey"),
    ("lineitem", "l_suppkey"),
    ("orders", "o_custkey"),
]

_SKEW_SQL = "WITH " + ",".join(
    _SKEW_COL.format(i=i, tbl=tbl, col=col)
    for i, (tbl, col) in enumerate(_SKEW_TARGETS)
) + " " + " UNION ALL ".join(
    f"SELECT * FROM o{i}" for i in range(len(_SKEW_TARGETS))
)


@query("q_skew_diagnose", oracle=_SKEW_SQL)
def q_skew_diagnose(spark, sf_dir):
    """Shuffle-key skew profiles for the three join keys every TPC-H
    plan here shuffles on — the pre-flight that decides whether
    salted_join/salted_agg are worth their extra round-trip (salt when
    skew_factor ≫ 1, size the salt from top1_share).  Per key: one
    count-by-key (the same shuffle the real join would pay), one
    global agg, one TakeOrdered top-10 — no global sort, no
    single-partition window (operators/relational.py::
    key_skew_profile)."""
    from tmp_parquet_merge_spark.operators.relational import key_skew_profile

    parts = [
        key_skew_profile(t(spark, sf_dir, tbl), col, f"{tbl}.{col}")
        for tbl, col in _SKEW_TARGETS
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@query(
    "q_window_distinct",
    oracle="""
        SELECT time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) AS w_start,
               event_type,
               COUNT(DISTINCT user_id) AS n_users,
               COUNT(*) AS n_events
        FROM events
        GROUP BY 1, 2
    """,
)
def q_window_distinct(spark, sf_dir):
    """Distinct users per tumbling hour per event type — the DAU/HAU
    shape.  COUNT(DISTINCT) over a time window needs the two-phase
    expand Spark plans automatically (partial distinct on (window,
    type, user), then count) — the shuffle carries one row per
    distinct (window, type, user), never the raw stream.  At 100 TB
    swap approx_count_distinct 1:1 when a 2% error is acceptable
    (q_agg_sketch's contract)."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.window(F.col("ts").cast("timestamp"), "1 hour").alias("w"),
            "event_type",
        )
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col("w.start").alias("w_start"),
            "event_type",
            "n_users",
            "n_events",
        )
    )


_DQ_CHECKS_SQL = """
    SELECT 'orders.o_custkey->customer' AS dq_check,
           COUNT(*) AS n_violations
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_custkey IS NULL
    UNION ALL
    SELECT 'lineitem.l_orderkey->orders',
           COUNT(*)
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IS NULL
    UNION ALL
    SELECT 'customer.c_custkey unique',
           CAST(COALESCE(SUM(n - 1), 0) AS BIGINT)
    FROM (SELECT c_custkey, COUNT(*) AS n FROM customer
          GROUP BY 1 HAVING COUNT(*) > 1)
    UNION ALL
    SELECT 'orders.o_totalprice >= 0',
           COUNT(*) FROM orders WHERE o_totalprice < 0
    UNION ALL
    SELECT 'documents.text non-empty',
           COUNT(*) FROM documents
    WHERE text IS NULL OR length(text) = 0
"""


@query("q_dq_audit", oracle=_DQ_CHECKS_SQL)
def q_dq_audit(spark, sf_dir):
    """Data-quality audit — the pre-ingest gate every pipeline table
    passes before training jobs trust it: referential integrity
    (anti-join violation counts), key uniqueness (surplus-row count),
    range and non-emptiness checks, one row per check.  Each FK check
    is the same shuffle the real join would pay (so the audit doubles
    as a join dry-run); uniqueness is a single count-by-key.  All
    violation counts are 0 on the bundled generator output — the
    capability under test is the harness, and the oracle pins the
    zeros."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    li = t(spark, sf_dir, "lineitem")
    d = t(spark, sf_dir, "documents")

    def count_row(label, n_col):
        return F.lit(label).alias("dq_check"), n_col.alias("n_violations")

    fk1 = (
        o.join(c, o.o_custkey == c.c_custkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(*count_row("orders.o_custkey->customer", F.col("n")))
    )
    fk2 = (
        li.join(o, li.l_orderkey == o.o_orderkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(*count_row("lineitem.l_orderkey->orders", F.col("n")))
    )
    uniq = (
        c.groupBy("c_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .agg(F.coalesce(F.sum(F.col("n") - 1), F.lit(0)).cast("long").alias("n"))
        .select(*count_row("customer.c_custkey unique", F.col("n")))
    )
    rng = (
        o.filter(F.col("o_totalprice") < 0)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(*count_row("orders.o_totalprice >= 0", F.col("n")))
    )
    nonempty = (
        d.filter(F.col("text").isNull() | (F.length("text") == 0))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(*count_row("documents.text non-empty", F.col("n")))
    )
    out = fk1
    for part in (fk2, uniq, rng, nonempty):
        out = out.unionByName(part)
    return out


@query(
    "q_benford",
    oracle="""
        WITH d AS (
            SELECT CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT)
                                       AS VARCHAR), 1, 1) AS INTEGER)
                       AS digit
            FROM orders
        ),
        c AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY 1),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM d)
        SELECT digit, n,
               round(CAST(n AS DOUBLE) / total, 6) AS share,
               round(log10(1 + 1.0 / digit), 6) AS benford_share,
               round(pow(CAST(n AS DOUBLE) / total
                         - log10(1 + 1.0 / digit), 2)
                     / log10(1 + 1.0 / digit), 6) AS chi_term
        FROM c, tot
    """,
)
def q_benford(spark, sf_dir):
    """Benford's-law first-significant-digit audit over order totals —
    the classic fabricated-data / generator-bug alarm for financial
    fact tables (Benford 1938; Nigrini's forensic-accounting use):
    per digit 1-9 the observed share vs the log10(1+1/d) expectation
    and the chi-square contribution.  The digit is derived through
    EXACT integer paths (floor → BIGINT → first character) — never by
    stringifying a float (engine float formatting differs) and never
    via log10(x) bucketing (1-ulp boundary flips at powers of ten).
    One scan, 9-row hash-agg, broadcast 1-row total."""
    o = t(spark, sf_dir, "orders")
    digit = F.substring(
        F.floor(F.col("o_totalprice")).cast("long").cast("string"), 1, 1
    ).cast("int")
    per = o.select(digit.alias("digit"))
    counts = per.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    total = per.agg(F.count(F.lit(1)).alias("total"))
    share = F.col("n") / F.col("total")
    expected = F.log10(F.lit(1) + F.lit(1.0) / F.col("digit"))
    return counts.crossJoin(F.broadcast(total)).select(
        "digit",
        "n",
        F.round(share, 6).alias("share"),
        F.round(expected, 6).alias("benford_share"),
        F.round(F.pow(share - expected, F.lit(2)) / expected, 6).alias(
            "chi_term"
        ),
    )


@query(
    "q_semijoin_reduce",
    oracle="""
        SELECT CAST(date_trunc('month', o.o_orderdate) AS TIMESTAMP)
                   AS month,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                             AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderpriority = '1-URGENT'
        GROUP BY 1
    """,
)
def q_semijoin_reduce(spark, sf_dir):
    """Semi-join reduction — the classic distributed-join technique
    (Bernstein & Chiu 1981) spelled explicitly: before the
    lineitem⋈orders shuffle join, the fact side is pre-filtered by a
    BROADCAST LEFT SEMI join on the filtered dimension's distinct
    keys, so only qualifying fact rows (~1/5 here) ever enter the
    join exchange.  At 100 TB this is the difference between
    shuffling the full lineitem and shuffling the selectivity
    fraction; Spark's own DPP does this for PARTITION keys only —
    this is the row-grain version for non-partition predicates.
    Semantically a no-op (the oracle is the plain join), plan-asserted
    in tests: LeftSemi + BroadcastHashJoin before the exchange."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    keys = o.select(F.col("o_orderkey").alias("__k")).distinct()
    reduced = li.join(
        F.broadcast(keys),
        li["l_orderkey"] == F.col("__k"),
        "left_semi",
    )
    joined = reduced.join(o, reduced["l_orderkey"] == o["o_orderkey"])
    return (
        joined.groupBy(
            # TIMESTAMP (not DATE) on BOTH sides: DuckDB's
            # date_trunc('month', ts) yields DATE, which fetchdf turns
            # into datetime64 ('...T00:00:00') while Spark DATE cells
            # isoformat as '1995-01-01' — a driver hash mismatch that
            # check_oracle's normalizer masks but driver_sim catches
            F.date_trunc("month", "o_orderdate").alias("month")
        )
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
        )
    )


@query(
    "q_graph_degree",
    oracle="""
        WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        e AS (
            SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
            FROM lp a JOIN lp b
              ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey < b.l_partkey
        ),
        sym AS (
            SELECT a AS node, b AS nbr FROM e
            UNION ALL
            SELECT b, a FROM e
        ),
        deg AS (SELECT node, COUNT(*) AS degree FROM sym GROUP BY 1)
        SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
        FROM deg GROUP BY 1
    """,
)
def q_graph_degree(spark, sf_dir):
    """Degree distribution of the co-purchase graph — the graph
    observability rollup that decides every downstream graph plan
    (a power-law tail means the PageRank/triangle joins need skew
    handling on the hub nodes; a flat distribution means plain hash
    joins are fine).  Edges are the DISTINCT co-occurrence pairs
    (array-local expansion, one shuffle on l_orderkey); degree = the
    distinct-neighbor count via a symmetrized union + hash-agg; the
    histogram is a second |distinct degrees|-row agg.  Output is
    bounded by the degree support, independent of corpus size."""
    from tmp_parquet_merge_spark.operators import graph

    edges = (
        graph.cooccurrence_pairs(
            t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey"),
            "l_orderkey",
            "l_partkey",
        )
        .select("a", "b")
        .distinct()
    )
    sym = edges.union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = sym.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_nodes"))


@query(
    "q_ab_assign",
    oracle="""
        WITH u AS (
            SELECT user_id, event_id, value,
                   CASE WHEN ('0x' || substring(md5(CAST(user_id AS VARCHAR)),
                                                 1, 8))::BIGINT % 2 = 0
                        THEN 'control' ELSE 'treatment' END AS arm
            FROM events
        )
        SELECT arm,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                   AS total_value,
               round(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                     / COUNT(*), 6) AS mean_value
        FROM u GROUP BY arm
    """,
)
def q_ab_assign(spark, sf_dir):
    """Deterministic A/B experiment assignment + per-arm metric
    readout: users hash into control/treatment by md5(user_id) — the
    assignment is a pure function of the unit id (no RNG, no
    assignment table to store or join), stable under re-runs and new
    data, which is what makes the experiment analyzable from raw
    events alone (the q_split_assign determinism contract applied to
    experimentation).  Per-arm metrics: distinct users, event count,
    decimal-exact value total, mean value per event.  One scan; the
    distinct-user count is the only two-phase agg."""
    e = t(spark, sf_dir, "events")
    arm = F.when(
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 2
        == 0,
        "control",
    ).otherwise("treatment")
    return (
        e.select(arm.alias("arm"), "user_id", "value")
        .groupBy("arm")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_value"),
        )
    )


@query(
    "q_anomaly_rate",
    oracle="""
        WITH h AS (
            SELECT event_type,
                   CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM events GROUP BY 1, 2
        ),
        b AS (
            SELECT event_type, MIN(hour) AS h0, MAX(hour) AS h1
            FROM h GROUP BY 1
        ),
        sp AS (
            SELECT event_type,
                   unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
            FROM b
        ),
        d AS (
            SELECT sp.event_type, sp.hour,
                   COALESCE(h.n_events, 0) AS n_events
            FROM sp LEFT JOIN h
              ON sp.event_type = h.event_type AND sp.hour = h.hour
        ),
        w AS (
            SELECT event_type, hour, n_events,
                   COUNT(*) OVER tw AS n_prev,
                   AVG(n_events) OVER tw AS mean_prev,
                   STDDEV_SAMP(n_events) OVER tw AS sd_prev
            FROM d
            WINDOW tw AS (PARTITION BY event_type ORDER BY hour
                          ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
        )
        SELECT event_type, hour, CAST(n_events AS BIGINT) AS n_events,
               round(mean_prev, 6) AS mean_24h,
               CASE WHEN sd_prev > 0
                    THEN round((n_events - mean_prev) / sd_prev, 6)
                    END AS rate_z,
               CAST(CASE WHEN sd_prev > 0
                         THEN CASE WHEN round((n_events - mean_prev)
                                             / sd_prev, 6) > 3
                                   THEN 1 ELSE 0 END
                         WHEN n_events > mean_prev THEN 1 ELSE 0
                    END AS INTEGER) AS is_spike,
               CAST(CASE WHEN sd_prev > 0
                         THEN CASE WHEN round((n_events - mean_prev)
                                             / sd_prev, 6) < -3
                                   THEN 1 ELSE 0 END
                         WHEN n_events < mean_prev THEN 1 ELSE 0
                    END AS INTEGER) AS is_stall
        FROM w WHERE n_prev >= 12
    """,
)
def q_anomaly_rate(spark, sf_dir):
    """Event-RATE spike AND stall detection — the time-local,
    count-based complement of q_anomaly_zscore's global value
    outliers (the ops alarm for crawler storms and pipeline stalls):
    hourly counts per type over a DENSE hour spine (missing hours
    materialize as 0 — a stalled hour is a ROW that raises the stall
    alarm and drags the baseline, and the trailing-24h window is true
    wall-clock hours, not 24 observed rows), each hour scored against
    rows 24 preceding..1 preceding so the current hour never
    contaminates its own baseline; |z| > 3 flags spike/stall,
    warm-up hours (< 12 trailing) suppressed.  A perfectly constant
    baseline (sd = 0, the cron-heartbeat regime) flags by exact
    comparison against the constant instead — z stays NULL but the
    alarms still fire; NULL event_type rows are excluded
    up front (a NULL key never equi-joins to its spine).  Counts are exact
    integers; moments are single roundings (the q_zipf_fit parity
    contract).  Plan: one corpus-size hash-agg to the (type, hour)
    grain, a |types| x hours spine, bounded per-type windows
    (operators/relational.py::rate_spikes)."""
    from tmp_parquet_merge_spark.operators.relational import rate_spikes

    return rate_spikes(
        t(spark, sf_dir, "events"), "ts", "event_type",
        trail=24, min_periods=12, z_thresh=3.0,
    )
