"""The registry surface: the ``__spark_entry__.py`` contract
(``entry`` / ``queries`` / ``oracle_sql``) and the ``t_spread`` table
helper the SQL-view queries build on."""

import pytest

import __spark_entry__ as contract
from tmp_parquet_merge_spark.queries import REGISTRY
from tmp_parquet_merge_spark.registry import t_spread


def test_queries_are_the_registry():
    qs = contract.queries()
    assert set(qs) == set(REGISTRY)
    assert len(qs) >= 234
    for name, build in qs.items():
        assert build is REGISTRY[name].build


def test_oracle_sql_covers_only_registered_queries():
    oracles = contract.oracle_sql()
    assert set(oracles) <= set(contract.queries())
    for name, sql in oracles.items():
        assert isinstance(sql, str) and sql.strip(), name


def test_entry_returns_flagship_rows(spark):
    assert len(contract.entry(spark).collect()) == 6


def test_t_spread_rejects_key_for_dim_table(spark, sf_dir, tmp_path):
    with pytest.raises(ValueError, match="'part'"):
        t_spread(spark, sf_dir, "part", key="p_partkey")
    # raised before the scan is built: a missing dir gives the same error
    with pytest.raises(ValueError, match="'part'"):
        t_spread(spark, str(tmp_path / "missing"), "part", key="p_partkey")
    # without key= a dim table is a plain scan
    assert t_spread(spark, sf_dir, "part").count() > 0
