"""TPC-H family, widened: Q1, Q4, Q7, Q8, Q13, Q14, Q19, Q22 over the
driver's TPC-H-ish schema (Q3/Q5/Q6/Q10/Q18 live in
queries_relational_ext.py).

The reference has no relational operators (SURVEY.md §0) — this family
exists because §2.E mandates the full SQL-analytics surface and TPC-H
is the canonical public benchmark of it.  Where the driver's schema
omits a column the spec query needs (l_shipmode, l_commitdate,
o_comment, c_phone, p_container, partsupp), the query is adapted to
the closest shape the schema supports and documented as such; the
relational *operator* under test (EXISTS decorrelation, double
aggregation, disjunctive pushdown, anti-join + scalar subquery) is
unchanged.

Determinism convention for cross-engine hash parity: every double
aggregate goes through DECIMAL(18,6) (see functions/deterministic.py);
averages are spelled exact-decimal-sum ÷ count so both engines perform
one identical double division.

Scale notes (100 TB): all eight queries keep dims broadcast-able
(nation/region/part at TPC-H scale factors stay ≪ the 10 MB-1 GB
broadcast budget; Spark's AQE converts the joins at runtime), aggregate
partial/final with map-side combine, and push every date/brand/size
predicate into the parquet scan.  The only full-fact shuffles are the
orderkey/custkey spine joins — exactly the ones bucketing
(q_bucketed_join) removes when the layout is owned.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tmp_parquet_merge_spark.functions.deterministic import dsum, dsum_expr
from tmp_parquet_merge_spark.registry import query, t, t_spread


def _views(spark, sf_dir, *names):
    # fact tables get the conditional parallelism floor (see
    # registry.t_spread; no-op at scale, DECIMAL-sum queries only)
    for n in names:
        t_spread(spark, sf_dir, n).createOrReplaceTempView(n)


# ---------------------------------------------------------------------------
# Q1 — pricing summary report (the canonical wide aggregate)
# ---------------------------------------------------------------------------


@query(
    "q_sql_tpch_q1",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
                   AS sum_base_price,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                             AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
                   / COUNT(*) AS avg_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
                   / COUNT(*) AS avg_price,
               CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE)
                   / COUNT(*) AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2001-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
)
def q_sql_tpch_q1(spark, sf_dir):
    """TPC-H Q1 (pricing summary): eight aggregates over two grouping
    keys — the whole-stage-codegen showcase.  One scan (only the 7
    needed columns in ReadSchema, shipdate pushed), one partial/final
    hash-agg pair; the shuffle carries ≤ |flags|×|status| rows per
    task regardless of input size.  Averages are spelled
    decimal-sum ÷ count so Spark and DuckDB round identically."""
    li = t_spread(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= "2001-09-02"
    )
    cnt = F.count(F.lit(1))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum_expr(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("sum_disc_price"),
            dsum_expr(
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax"))
            ).alias("sum_charge"),
            (dsum("l_quantity") / cnt).alias("avg_qty"),
            (dsum("l_extendedprice") / cnt).alias("avg_price"),
            (dsum("l_discount") / cnt).alias("avg_disc"),
            cnt.alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# Q4 — order priority checking (EXISTS decorrelation)
# ---------------------------------------------------------------------------

# Adapted: the driver schema has no l_commitdate/l_receiptdate, so
# "late" is spelled l_shipdate > o_orderdate + 60 days (shipped more
# than 60 days after ordering) — same correlated-EXISTS shape.
_TPCH_Q4 = """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1996-04-01'
      AND EXISTS (
          SELECT 1 FROM lineitem
          WHERE l_orderkey = o_orderkey
            AND l_shipdate > o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
"""


@query("q_sql_tpch_q4", oracle=_TPCH_Q4)
def q_sql_tpch_q4(spark, sf_dir):
    """TPC-H Q4 (order priority checking), adapted to the driver
    schema (late = shipped >60 days after order date; no commit/receipt
    dates exist).  The operator under test is correlated-EXISTS
    decorrelation: Catalyst rewrites the subquery to a LEFT SEMI join
    on l_orderkey, so the fact table is scanned once and the semi join
    short-circuits per key.  Shared SQL text on both engines."""
    _views(spark, sf_dir, "orders", "lineitem")
    return spark.sql(_TPCH_Q4)


# ---------------------------------------------------------------------------
# Q7 — volume shipping between two nations
# ---------------------------------------------------------------------------

_TPCH_Q7 = """
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(CAST(volume AS DECIMAL(18,6))) AS DOUBLE) AS revenue
    FROM (
        SELECT n1.n_name AS supp_nation,
               n2.n_name AS cust_nation,
               CAST(EXTRACT(YEAR FROM l_shipdate) AS INT) AS l_year,
               l_extendedprice * (1 - l_discount) AS volume
        FROM supplier
        JOIN lineitem ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
           OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    ) AS shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
"""


@query("q_sql_tpch_q7", oracle=_TPCH_Q7)
def q_sql_tpch_q7(spark, sf_dir):
    """TPC-H Q7 (volume shipping): the two-role dimension join —
    nation joins the spine twice under different aliases, with a
    disjunctive cross-alias predicate.  Both nation joins broadcast;
    the nation-name filters reach the *joins* (not the scans), so
    Catalyst prunes the fact early via the semi-join-reduction AQE
    applies after the first broadcast.  Shared SQL on both engines."""
    _views(
        spark, sf_dir,
        "supplier", "lineitem", "orders", "customer", "nation",
    )
    return spark.sql(_TPCH_Q7)


# ---------------------------------------------------------------------------
# Q8 — national market share
# ---------------------------------------------------------------------------

_TPCH_Q8 = """
    SELECT o_year,
           CAST(SUM(CAST(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END
                         AS DECIMAL(18,6))) AS DOUBLE)
           / CAST(SUM(CAST(volume AS DECIMAL(18,6))) AS DOUBLE)
               AS mkt_share
    FROM (
        SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
               l_extendedprice * (1 - l_discount) AS volume,
               n2.n_name AS nation
        FROM part
        JOIN lineitem ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region   ON n1.n_regionkey = r_regionkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1998-01-01'
          AND p_type = 'ECONOMY'
    ) AS all_nations
    GROUP BY o_year
    ORDER BY o_year
"""


@query("q_sql_tpch_q8", oracle=_TPCH_Q8)
def q_sql_tpch_q8(spark, sf_dir):
    """TPC-H Q8 (national market share): 8-table join with a
    conditional-aggregate ratio.  Market share = decimal-exact
    conditional sum ÷ decimal-exact total, one double division at the
    end (deterministic in both engines).  part/supplier/nation×2/region
    all broadcast; only the lineitem⋈orders⋈customer spine shuffles.
    p_type equality ('ECONOMY' — the driver's p_type is a 6-value
    enum, standing in for the spec's 150-type LIKE) is pushed to the
    part scan before the broadcast is built."""
    _views(
        spark, sf_dir,
        "part", "lineitem", "supplier", "orders", "customer",
        "nation", "region",
    )
    return spark.sql(_TPCH_Q8)


# ---------------------------------------------------------------------------
# Q13 — customer order-count distribution
# ---------------------------------------------------------------------------

# Adapted: the driver schema has no o_comment, so the spec's NOT LIKE
# comment filter is dropped; the operator (outer join preserving
# zero-order customers + double aggregation) is unchanged.
_TPCH_Q13 = """
    SELECT c_count, COUNT(*) AS custdist
    FROM (
        SELECT c_custkey, COUNT(o_orderkey) AS c_count
        FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey
    ) AS c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
"""


@query("q_sql_tpch_q13", oracle=_TPCH_Q13)
def q_sql_tpch_q13(spark, sf_dir):
    """TPC-H Q13 (customer distribution): double aggregation over a
    left outer join — COUNT(o_orderkey) counts non-NULL only, so
    order-less customers land in the c_count=0 bucket instead of
    disappearing (the semantics an inner join would silently break).
    First agg shuffles on c_custkey (same key as the join — AQE reuses
    the exchange); second agg's input is one row per customer, tiny."""
    _views(spark, sf_dir, "customer", "orders")
    return spark.sql(_TPCH_Q13)


# ---------------------------------------------------------------------------
# Q14 — promotion effect
# ---------------------------------------------------------------------------


@query(
    "q_sql_tpch_q14",
    oracle="""
        SELECT CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0 END AS DECIMAL(18,6))) AS DOUBLE)
               * 100.0
               / CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                               AS DECIMAL(18,6))) AS DOUBLE)
                   AS promo_revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-03-01'
          AND l_shipdate <  TIMESTAMP '1996-04-01'
    """,
)
def q_sql_tpch_q14(spark, sf_dir):
    """TPC-H Q14 (promotion effect): scalar ratio of a conditional
    aggregate over a fact⋈dim join.  The one-month shipdate range is
    pushed to the lineitem scan; part broadcasts; the CASE rides the
    join output inside one codegen stage, so the whole query is scan →
    broadcast-hash-join → partial agg → single final row."""
    li = t_spread(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-03-01")
        & (F.col("l_shipdate") < "1996-04-01")
    )
    p = t(spark, sf_dir, "part")
    joined = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return joined.agg(
        (
            dsum_expr(F.when(F.col("p_type") == "PROMO", disc).otherwise(0.0))
            * 100.0
            / dsum_expr(disc)
        ).alias("promo_revenue")
    )


# ---------------------------------------------------------------------------
# Q19 — discounted revenue (disjunctive multi-attribute predicates)
# ---------------------------------------------------------------------------

# Adapted: no p_container/l_shipmode in the driver schema; the three
# disjunct arms pair brand × size-range × quantity-range instead.  The
# operator under test — a join whose residual condition is a
# disjunction over both sides' attributes — is unchanged.
@query(
    "q_sql_tpch_q19",
    oracle="""
        SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
               AND l_quantity >= 1 AND l_quantity <= 21)
           OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
               AND l_quantity >= 10 AND l_quantity <= 30)
           OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 50
               AND l_quantity >= 20 AND l_quantity <= 40)
    """,
)
def q_sql_tpch_q19(spark, sf_dir):
    """TPC-H Q19 (discounted revenue): the disjunctive-predicate join.
    Catalyst extracts the single-side conjuncts it can — the OR of
    brand/size arms is pushable to the part scan as
    (brand=1 ∧ size≤15) ∨ (brand=2 ∧ size≤25) ∨ ... and the quantity
    bounds (1..40 envelope) to lineitem — then evaluates the full
    disjunction as the join residual.  part broadcasts, so the
    residual runs map-side with zero extra shuffle."""
    li = t_spread(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    arm = lambda brand, smax, qlo, qhi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & (F.col("p_size").between(1, smax))
        & (F.col("l_quantity") >= qlo)
        & (F.col("l_quantity") <= qhi)
    )
    return j.filter(
        arm("Brand#1", 15, 1, 21)
        | arm("Brand#2", 25, 10, 30)
        | arm("Brand#3", 50, 20, 40)
    ).agg(
        dsum_expr(
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
        ).alias("revenue")
    )


# ---------------------------------------------------------------------------
# Q22 — global sales opportunity (anti join + scalar subquery)
# ---------------------------------------------------------------------------

# Adapted: no c_phone in the driver schema, so the spec's country-code
# substring becomes c_mktsegment, and — because every synthetic
# customer has at least one order — "never ordered" becomes "no order
# since 1999" so the anti join keeps a non-trivial survivor set.  The
# operators under test — scalar subquery threshold + NOT EXISTS anti
# join — are unchanged.  The threshold is spelled exact-decimal-sum ÷
# count so the comparison is bit-identical in both engines (a naive
# AVG(double) could flip borderline rows).
_TPCH_Q22 = """
    SELECT c_mktsegment AS segment,
           COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
               AS totacctbal
    FROM customer
    WHERE c_acctbal > (
            SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
                   / COUNT(*)
            FROM customer WHERE c_acctbal > 0.0
          )
      AND NOT EXISTS (
            SELECT 1 FROM orders
            WHERE o_custkey = c_custkey
              AND o_orderdate >= TIMESTAMP '1999-01-01'
          )
    GROUP BY c_mktsegment
    ORDER BY segment
"""


@query("q_sql_tpch_q22", oracle=_TPCH_Q22)
def q_sql_tpch_q22(spark, sf_dir):
    """TPC-H Q22 (global sales opportunity): rich customers who never
    ordered.  Composes an uncorrelated scalar subquery (broadcast as a
    literal once evaluated — one extra tiny job, no per-row cost) with
    a NOT EXISTS Catalyst plans as LEFT ANTI join on o_custkey.  At
    100 TB the anti join shuffles customer×orders on custkey — the
    same spine bucketing removes; everything else is single-pass."""
    _views(spark, sf_dir, "customer", "orders")
    return spark.sql(_TPCH_Q22)


# ---------------------------------------------------------------------------
# Q2 — minimum-cost supplier (correlated MIN subquery)
# ---------------------------------------------------------------------------

# Adapted: the driver schema has no partsupp, so the part↔supplier
# relation (and its ps_supplycost) is derived from lineitem — unit
# cost = MIN(l_extendedprice / l_quantity) per (part, supplier).  The
# operator under test — a per-part correlated MIN over a
# region-restricted supplier set, re-joined on equality with the
# minimum — is unchanged.
_TPCH_Q2_ORACLE = """
    WITH supply AS (
        SELECT l_partkey AS sp_partkey, l_suppkey AS sp_suppkey,
               MIN(l_extendedprice / l_quantity) AS unit_cost
        FROM lineitem GROUP BY 1, 2
    ),
    eu_supply AS (
        SELECT sp_partkey, sp_suppkey, unit_cost, s_acctbal, s_name, n_name
        FROM supply
        JOIN supplier ON sp_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE'
    ),
    best AS (
        SELECT sp_partkey AS b_partkey, MIN(unit_cost) AS min_cost
        FROM eu_supply GROUP BY 1
    )
    SELECT s_acctbal, s_name, n_name, p_partkey, p_name
    FROM eu_supply
    JOIN best ON sp_partkey = b_partkey AND unit_cost = min_cost
    JOIN part ON p_partkey = sp_partkey
    WHERE p_type = 'LARGE' AND p_size BETWEEN 10 AND 20
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
"""


@query("q_sql_tpch_q2", oracle=_TPCH_Q2_ORACLE)
def q_sql_tpch_q2(spark, sf_dir):
    """TPC-H Q2 (minimum-cost supplier), adapted: partsupp does not
    exist in the driver schema, so the part↔supplier catalog is the
    distinct (l_partkey, l_suppkey) pairs of lineitem and cost is the
    best observed unit price.  The plan decorrelates the spec's
    correlated MIN subquery by hand: one groupBy for per-pair cost, a
    broadcast of the EUROPE supplier dim onto it, a second groupBy for
    the per-part minimum, and an equality re-join on (part, min-cost)
    — both aggs share the partkey shuffle key so AQE reuses the
    exchange.  MIN of identical doubles is selection, not accumulation,
    so cross-engine hash parity holds without the decimal detour.
    The deficient-scan spread keys on the supply aggregate's own
    (l_partkey, l_suppkey) so the aggregate reuses the spread exchange
    (the default orderkey spread would add a second full-table
    shuffle here)."""
    li = t_spread(spark, sf_dir, "lineitem", key=("l_partkey", "l_suppkey"))
    supply = li.groupBy(
        F.col("l_partkey").alias("sp_partkey"),
        F.col("l_suppkey").alias("sp_suppkey"),
    ).agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
    )
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu_dim = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_acctbal", "s_name", "n_name")
    )
    eu_supply = supply.join(
        F.broadcast(eu_dim), F.col("sp_suppkey") == F.col("s_suppkey")
    )
    best = eu_supply.groupBy(F.col("sp_partkey").alias("b_partkey")).agg(
        F.min("unit_cost").alias("min_cost")
    )
    p = t(spark, sf_dir, "part").filter(
        (F.col("p_type") == "LARGE") & F.col("p_size").between(10, 20)
    )
    return (
        eu_supply.join(
            best,
            (F.col("sp_partkey") == F.col("b_partkey"))
            & (F.col("unit_cost") == F.col("min_cost")),
        )
        .join(F.broadcast(p), F.col("p_partkey") == F.col("sp_partkey"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name")
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
    )


# ---------------------------------------------------------------------------
# Q9 — product-type profit (multi-join + derived-year rollup)
# ---------------------------------------------------------------------------

# Adapted: no partsupp → supply cost is modeled as 60% of
# p_retailprice per unit (a deterministic stand-in for ps_supplycost);
# the spec's p_name LIKE '%green%' color filter keeps its shape with a
# color present in the synthetic names.
_TPCH_Q9_ORACLE = """
    SELECT nation, o_year,
           CAST(SUM(CAST(amount AS DECIMAL(18,6))) AS DOUBLE) AS sum_profit
    FROM (
        SELECT n_name AS nation,
               CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
               l_extendedprice * (1 - l_discount)
                   - 0.6 * p_retailprice * l_quantity AS amount
        FROM part
        JOIN lineitem ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN nation   ON s_nationkey = n_nationkey
        WHERE p_name LIKE '%red%'
    ) AS profit
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
"""


@query("q_sql_tpch_q9", oracle=_TPCH_Q9_ORACLE)
def q_sql_tpch_q9(spark, sf_dir):
    """TPC-H Q9 (product-type profit), adapted: supply cost =
    0.6 × p_retailprice (no partsupp in the driver schema).  part is
    filtered by the contains-predicate *before* its broadcast is
    built, so the fact scan is pruned by the broadcast join itself;
    supplier and nation broadcast too, leaving lineitem⋈orders as the
    only shuffle.  Profit can be negative — DECIMAL(18,6) is signed,
    so the exact-sum convention holds unchanged."""
    p = t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    li = t_spread(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    o = t_spread(spark, sf_dir, "orders")
    n = t(spark, sf_dir, "nation")
    j = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
    )
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - 0.6 * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        j.select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
            amount.alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(dsum("amount").alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


# ---------------------------------------------------------------------------
# Q11 — important stock (aggregate + global-threshold scalar subquery)
# ---------------------------------------------------------------------------

# Adapted: no partsupp → per-part "value" is EUROPE suppliers' revenue
# from lineitem instead of ps_supplycost × ps_availqty; the operator —
# HAVING against an uncorrelated scalar aggregate over the same
# derived table — is unchanged.
_TPCH_Q11_ORACLE = """
    WITH partval AS (
        SELECT l_partkey AS partkey,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(18,6))) AS DOUBLE) AS value
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE'
        GROUP BY 1
    )
    SELECT partkey, value
    FROM partval
    WHERE value > (SELECT CAST(SUM(CAST(value AS DECIMAL(18,6)))
                               AS DOUBLE) / COUNT(*) * 1.5
                   FROM partval)
    ORDER BY value DESC, partkey
"""


@query("q_sql_tpch_q11", oracle=_TPCH_Q11_ORACLE)
def q_sql_tpch_q11(spark, sf_dir):
    """TPC-H Q11 (important stock), adapted to a lineitem-derived
    value (no partsupp): per-part EUROPE revenue filtered against 1.5×
    the mean per-part value (the spec's fixed-fraction cut thins to an
    empty set as part cardinality grows with sf; a mean-relative cut
    keeps the semantics scale-invariant).  The threshold is an
    uncorrelated scalar
    — computed as a 1-row aggregate of the *same* per-part frame and
    attached via broadcast cross join, so the frame is built once
    (Spark reuses the shuffle; the second pass over it is a cheap
    re-agg of 2 000 rows).  Both engines sum the identical per-part
    doubles through DECIMAL(18,6), so the > comparison sees
    bit-identical operands on borderline parts.  The
    deficient-scan spread keys on l_partkey — the partval aggregate's
    key — so it is reused instead of stacking under a second
    shuffle."""
    li = t_spread(spark, sf_dir, "lineitem", key="l_partkey")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey")
    )
    partval = (
        li.join(F.broadcast(eu), li.l_suppkey == F.col("s_suppkey"))
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(
            dsum_expr(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("value")
        )
    )
    threshold = partval.agg(
        (dsum("value") / F.count(F.lit(1)) * 1.5).alias("thr")
    )
    return (
        partval.join(F.broadcast(threshold))
        .filter(F.col("value") > F.col("thr"))
        .select("partkey", "value")
        .orderBy(F.desc("value"), "partkey")
    )


# ---------------------------------------------------------------------------
# Q12 — shipping-mode priority classes (conditional counts over a join)
# ---------------------------------------------------------------------------

# Adapted: no l_shipmode/l_commitdate/l_receiptdate — the class column
# is l_returnflag and "late" is shipped >60 days after ordering.  The
# operator (join + two complementary conditional counts) is unchanged.
_TPCH_Q12 = """
    SELECT l_returnflag AS shipclass,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY l_returnflag
    ORDER BY l_returnflag
"""


@query("q_sql_tpch_q12", oracle=_TPCH_Q12)
def q_sql_tpch_q12(spark, sf_dir):
    """TPC-H Q12 (shipping modes and order priority), adapted to the
    driver schema (class = l_returnflag, late = >60 days after order).
    Integer conditional counts — no floating point anywhere, so parity
    is structural.  The one-year shipdate range is pushed to the
    lineitem scan; the join residual (shipdate vs orderdate + 60d)
    runs inside the join stage; the final agg shuffles ≤3 rows per
    task.  Shared SQL text on both engines."""
    _views(spark, sf_dir, "orders", "lineitem")
    return spark.sql(_TPCH_Q12)


# ---------------------------------------------------------------------------
# Q15 — top supplier (aggregate view + scalar-MAX equality)
# ---------------------------------------------------------------------------

_TPCH_Q15 = """
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s_suppkey
"""


@query("q_sql_tpch_q15", oracle=_TPCH_Q15)
def q_sql_tpch_q15(spark, sf_dir):
    """TPC-H Q15 (top supplier): the spec's revenue view is a CTE;
    the winner is selected by equality against an uncorrelated scalar
    MAX over that same CTE.  Spark evaluates the scalar subquery as a
    separate tiny job over the reused shuffle output (one row), then
    broadcasts it as a literal filter — ties all surface, exactly the
    spec's semantics.  The per-supplier sums go through DECIMAL(18,6)
    on both engines, so MAX and the = comparison see identical
    doubles.  Shared SQL text on both engines."""
    _views(spark, sf_dir, "supplier", "lineitem")
    return spark.sql(_TPCH_Q15)


# ---------------------------------------------------------------------------
# Q16 — part/supplier relationship (distinct-agg + NOT IN anti join)
# ---------------------------------------------------------------------------

# Adapted: the part↔supplier relation derives from lineitem (no
# partsupp), and the spec's "customer complaints" comment filter
# becomes s_acctbal < 0 (no s_comment column).  The operator —
# COUNT(DISTINCT supplier) per part attributes, with a NOT IN
# null-aware anti join carving out excluded suppliers — is unchanged.
_TPCH_Q16 = """
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_type <> 'PROMO'
      AND p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
      AND l_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0
      )
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


@query("q_sql_tpch_q16", oracle=_TPCH_Q16)
def q_sql_tpch_q16(spark, sf_dir):
    """TPC-H Q16 (part/supplier relationship), adapted (lineitem as
    the part↔supplier bridge; bad suppliers = negative balance).
    Catalyst turns the NOT IN into a null-aware left anti join — the
    excluded-supplier list is tiny and broadcasts; the p_brand/p_type/
    p_size predicates are pushed to the part scan before its broadcast
    is built.  COUNT(DISTINCT) runs as the standard two-shuffle
    expand/agg; integer output, structural parity.  Shared SQL text on
    both engines."""
    _views(spark, sf_dir, "lineitem", "part", "supplier")
    return spark.sql(_TPCH_Q16)


# ---------------------------------------------------------------------------
# Q17 — small-quantity-order revenue (correlated per-part average)
# ---------------------------------------------------------------------------

# Adapted: all of Brand#3 (no p_container column to pair with the
# spec's single-brand slice).  The operator — compare each row's
# quantity against 20% of its part's average quantity — is unchanged.
_TPCH_Q17_ORACLE = """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
               / 7.0 AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#3'
      AND l_quantity < (
          SELECT 0.2 * (CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,6)))
                             AS DOUBLE) / COUNT(*))
          FROM lineitem l2 WHERE l2.l_partkey = p_partkey
      )
"""


@query("q_sql_tpch_q17", oracle=_TPCH_Q17_ORACLE)
def q_sql_tpch_q17(spark, sf_dir):
    """TPC-H Q17 (small-quantity-order revenue), adapted to all of
    Brand#3.  The correlated per-part average is decorrelated by hand:
    one groupBy over lineitem computes each part's threshold
    (exact-decimal sum ÷ count — one double division, identical in
    both engines, so borderline rows cannot flip), then a join back on
    partkey applies the comparison.  The threshold frame is ~|parts|
    rows and broadcasts; lineitem is scanned twice (spec shape) but
    the threshold pass reads only (partkey, quantity) thanks to column
    pruning.  The deficient-scan spread keys on l_partkey — the
    threshold aggregate's key (the main branch joins only broadcasts,
    so the spread is its only exchange either way)."""
    li = t_spread(spark, sf_dir, "lineitem", key="l_partkey")
    p = t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    thr = li.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (0.2 * (dsum("l_quantity") / F.count(F.lit(1)))).alias("qty_thr")
    )
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).join(
        F.broadcast(thr), li.l_partkey == F.col("t_partkey")
    )
    return j.filter(F.col("l_quantity") < F.col("qty_thr")).agg(
        (dsum("l_extendedprice") / 7.0).alias("avg_yearly")
    )


# ---------------------------------------------------------------------------
# Q20 — potential part promotion (nested semi joins + HAVING)
# ---------------------------------------------------------------------------

# Adapted: no partsupp/ps_availqty — a supplier qualifies if some
# (part, year) shipment volume exceeded a fixed threshold, with the
# spec's p_name prefix filter kept verbatim.  The operator — IN
# subquery over a grouped HAVING, nested inside a dimension-filtered
# outer query — is unchanged.
_TPCH_Q20 = """
    SELECT s_name, s_acctbal
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_19'
      AND s_suppkey IN (
          SELECT l_suppkey
          FROM lineitem JOIN part ON p_partkey = l_partkey
          WHERE p_name LIKE 'small%'
            AND l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate <  TIMESTAMP '1997-01-01'
          GROUP BY l_suppkey, l_partkey
          HAVING SUM(CAST(l_quantity AS DECIMAL(18,6))) > 30
      )
    ORDER BY s_name
"""


@query("q_sql_tpch_q20", oracle=_TPCH_Q20)
def q_sql_tpch_q20(spark, sf_dir):
    """TPC-H Q20 (potential part promotion), adapted: availability is
    shipment volume per (supplier, part) in one year (no ps_availqty
    exists).  The IN becomes a left semi join whose build side is the
    grouped-HAVING subquery — itself pruned by the prefix-filtered
    part broadcast and the pushed shipdate range.  Exact decimal sum
    in the HAVING keeps the >30 cut identical in both engines.
    Shared SQL text on both engines."""
    _views(spark, sf_dir, "supplier", "nation", "lineitem", "part")
    return spark.sql(_TPCH_Q20)


# ---------------------------------------------------------------------------
# Q21 — suppliers who kept orders waiting (multi-EXISTS over one fact)
# ---------------------------------------------------------------------------

# Adapted: late = shipped >60 days after ordering (no commit/receipt
# dates).  The operator — for each late line, require another supplier
# on the same order (EXISTS) and no *other* late supplier on it
# (NOT EXISTS) — is unchanged.
_TPCH_Q21_ORACLE = """
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND n_name = 'NATION_19'
      AND EXISTS (
          SELECT 1 FROM lineitem l2
          WHERE l2.l_orderkey = l1.l_orderkey
            AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
          SELECT 1 FROM lineitem l3
          WHERE l3.l_orderkey = l1.l_orderkey
            AND l3.l_suppkey <> l1.l_suppkey
            AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
"""


@query("q_sql_tpch_q21", oracle=_TPCH_Q21_ORACLE)
def q_sql_tpch_q21(spark, sf_dir):
    """TPC-H Q21 (suppliers who kept orders waiting), adapted (late =
    shipped >60 days after ordering).  The two correlated EXISTS are
    decorrelated by hand into one per-order aggregate — distinct
    suppliers on the order and distinct *late* suppliers — computed
    once from the same fact⋈orders frame the outer query uses (AQE
    reuses the orderkey shuffle for the agg and the join back).  A
    late line survives iff the order has >1 supplier and exactly one
    late supplier (necessarily this one).  The NATION_19 supplier dim
    broadcasts onto the survivors; integer counts, structural
    parity."""
    li = t_spread(spark, sf_dir, "lineitem")
    o = t_spread(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    j = li.join(o, li.l_orderkey == o.o_orderkey).withColumn(
        "is_late",
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY"),
    )
    per_order = j.groupBy(F.col("l_orderkey").alias("po_orderkey")).agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(
            F.when(F.col("is_late"), F.col("l_suppkey"))
        ).alias("n_late_supp"),
    )
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_19")
    dim = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select(
        "s_suppkey", "s_name"
    )
    return (
        j.filter(F.col("is_late"))
        .join(per_order, F.col("l_orderkey") == F.col("po_orderkey"))
        .filter((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1))
        .join(F.broadcast(dim), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
    )
