"""_exact_group_percentiles must be BIT-IDENTICAL to F.percentile.

The r15 optimization replaces q_agg_sketch's exact-percentile
sort-aggregate (capped at 3 tasks by the 3-row group key) with a
histogram bucket-selection plan; these tests pin the replacement to
Spark's own ``Percentile`` expression — same interpolation arithmetic,
same positions — on the bundled lineitem tier and on adversarial
synthetic fixtures (heavy ties, singleton groups, constant groups,
negative values, n_buckets=1 degenerate binning).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tmp_parquet_merge_spark.queries_relational_ext import (
    _exact_group_percentiles,
)
from tmp_parquet_merge_spark.registry import t

PCTS = (0.5, 0.99)


def _builtin(df, group_col, val_col, pcts):
    return df.groupBy(group_col).agg(
        *[
            F.percentile(val_col, float(p)).alias(f"p{i}")
            for i, p in enumerate(pcts)
        ]
    )


def _assert_bit_identical(df, group_col, val_col, pcts, n_buckets=1024):
    got = {
        r[0]: tuple(r[1:])
        for r in _exact_group_percentiles(
            df, group_col, val_col, pcts, n_buckets=n_buckets
        ).collect()
    }
    want = {
        r[0]: tuple(r[1:])
        for r in _builtin(df, group_col, val_col, pcts).collect()
    }
    assert set(got) == set(want)
    for g in want:
        for a, b in zip(got[g], want[g]):
            # bit-identical doubles, not approx: the driver hashes them
            assert a == b and str(a) == str(b), (g, got[g], want[g])


def test_lineitem_returnflag_percentiles(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    _assert_bit_identical(li, "l_returnflag", "l_extendedprice", PCTS)


def test_quantity_low_cardinality_ties(spark, sf_dir):
    # l_quantity has ~50 distinct values — every bucket boundary is a
    # massive tie pile-up
    li = t(spark, sf_dir, "lineitem")
    _assert_bit_identical(li, "l_returnflag", "l_quantity", PCTS)


@pytest.mark.parametrize("n_buckets", [1, 7, 1024])
def test_synthetic_edges(spark, n_buckets):
    rows = (
        # singleton group
        [("single", 42.5)]
        # constant group (vmax == vmin: degenerate 0-width histogram)
        + [("const", -3.25)] * 17
        # two-value group: interpolation lands between the values
        + [("two", 1.0), ("two", 2.0)]
        # heavy ties + negatives, non-round sizes
        + [("mix", float(v)) for v in (-5, -5, -5, 0, 0, 1, 2, 2, 2, 2, 3, 9)]
    )
    df = spark.createDataFrame(rows, "g string, v double")
    _assert_bit_identical(
        df, "g", "v", (0.0, 0.25, 0.5, 0.75, 0.99, 1.0), n_buckets=n_buckets
    )


def test_agg_sketch_rows_unchanged(spark, sf_dir):
    # the registered query's full output must carry the same exact
    # columns as the F.percentile spelling it replaced
    from tmp_parquet_merge_spark.queries import REGISTRY

    li = t(spark, sf_dir, "lineitem")
    old = {
        r[0]: (r[1], r[2])
        for r in li.groupBy("l_returnflag")
        .agg(
            F.round(F.percentile("l_extendedprice", 0.5), 6).alias("p50"),
            F.round(F.percentile("l_extendedprice", 0.99), 6).alias("p99"),
        )
        .collect()
    }
    new = {
        r["l_returnflag"]: (r["p50_exact"], r["p99_exact"])
        for r in REGISTRY["q_agg_sketch"].build(spark, sf_dir).collect()
    }
    assert old == new


def test_null_key_and_all_null_groups_kept(spark):
    # F.percentile keeps the NULL-key group and returns NULL for a
    # group whose values are all NULL; neither may be dropped
    rows = [
        ("a", 1), ("a", 2), ("a", 5),
        (None, 3), (None, 4),
        ("b", None), ("b", None),
    ]
    df = spark.createDataFrame(rows, "g string, v int")
    _assert_bit_identical(df, "g", "v", (0.5, 0.9))
    got = {
        r[0]: tuple(r[1:])
        for r in _exact_group_percentiles(df, "g", "v", (0.5, 0.9)).collect()
    }
    assert got == {"a": (2.0, 4.4), None: (3.5, 3.9), "b": (None, None)}
