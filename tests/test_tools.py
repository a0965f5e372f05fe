"""CLI twins: the reference's tools print metadata AND values
(cpp/tools/parquet/parquet_reader.cc:44-57 — --only-metadata=false is
the default value-dump path).  Run the CLIs in-process against the
session fixture (get_spark getOrCreate reuses it) and assert on stdout.
"""

import importlib
import json
from pathlib import Path

import pytest

TOOLS = sorted(
    p.stem
    for p in (Path(__file__).resolve().parents[1] / "tools").glob("*.py")
    if p.stem != "__init__"
)


def test_parquet_reader_prints_values(spark, sf_dir, capsys):
    from tools.parquet_reader import main

    assert main([sf_dir + "/region.parquet"]) == 0
    out = capsys.readouterr().out
    # metadata half
    assert "num_rows: 5" in out
    assert "num_row_groups:" in out
    # value half: every region name appears in the dump
    for name in ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"):
        assert name in out


def test_parquet_reader_only_metadata_suppresses_values(spark, sf_dir, capsys):
    from tools.parquet_reader import main

    assert main(["--only-metadata", sf_dir + "/region.parquet"]) == 0
    out = capsys.readouterr().out
    assert "num_rows: 5" in out
    assert "AFRICA" not in out


def test_parquet_reader_json_and_column_selection(spark, sf_dir, capsys):
    from tools.parquet_reader import main

    assert main(["--json", "--columns=1", sf_dir + "/region.parquet"]) == 0
    out = capsys.readouterr().out
    lines = [l for l in out.splitlines() if l.startswith("{") and "r_name" in l]
    assert len(lines) == 5
    parsed = {json.loads(l)["r_name"] for l in lines}
    assert parsed == {"AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"}
    assert "r_regionkey" not in json.loads(lines[0])


def test_parquet_scan_tool_counts_rows(spark, sf_dir, capsys):
    from tools.parquet_scan import main

    assert main([sf_dir + "/region.parquet"]) == 0
    out = capsys.readouterr().out
    assert "5" in out


def test_parquet_merge_cli_merge_and_incremental(spark, sf_dir, tmp_path, capsys):
    import sys

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    import parquet_merge

    from tmp_parquet_merge_spark.sources import parquet_io

    # classic merge mode
    out = str(tmp_path / "merged")
    rc = parquet_merge.main(
        [f"--target-size-mb=64", out, f"{sf_dir}/nation.parquet",
         f"{sf_dir}/region.parquet"]
    )
    captured = capsys.readouterr().out
    assert rc == 0 and "rows merged into" in captured

    # kv stamping + INT96 through the CLI (the reference tool pairing:
    # parquet_reader.cc:46-47 kv dump / reader_writer.h:48-49 INT96)
    from pyspark.sql import functions as F

    ltz_in = str(tmp_path / "ltz_in")
    spark.range(50).select(
        F.col("id"), F.timestamp_seconds(F.col("id")).alias("ts")
    ).write.parquet(ltz_in)  # TimestampType (LTZ) — the INT96-eligible kind
    out_kv = str(tmp_path / "merged_kv")
    # pin a non-INT96 session default so the flag's effect is what the
    # assertion observes (Spark's own default here IS INT96)
    ts_key = "spark.sql.parquet.outputTimestampType"
    spark.conf.set(ts_key, "TIMESTAMP_MICROS")
    try:
        rc = parquet_merge.main(
            ["--kv=engine=spark-graft", "--kv=round=6", "--int96-timestamps",
             out_kv, ltz_in]
        )
    finally:
        spark.conf.set(ts_key, "INT96")
    assert rc == 0 and "rows merged into" in capsys.readouterr().out
    import pyarrow.parquet as pq
    f = parquet_io._expand_parquet_paths(spark, out_kv)[0]
    md = pq.ParquetFile(f).metadata
    kv = {k.decode(): v.decode() for k, v in (md.metadata or {}).items()}
    assert kv.get("engine") == "spark-graft" and kv.get("round") == "6"
    phys = {
        md.row_group(0).column(i).path_in_schema:
            md.row_group(0).column(i).physical_type
        for i in range(md.row_group(0).num_columns)
    }
    assert phys["ts"] == "INT96"

    # flags are rejected where they cannot apply atomically
    rc = parquet_merge.main(
        ["--incremental", "--kv=a=b", str(tmp_path / "x"), out_kv]
    )
    assert rc == 1
    rc = parquet_merge.main(["--kv==oops", str(tmp_path / "x"), out_kv])
    assert rc == 1

    # incremental maintenance mode
    mixed = str(tmp_path / "mixed")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    parquet_io.write_parquet(li.repartition(2), mixed)
    parquet_io.write_parquet(li.limit(200).repartition(8), mixed, mode="append")
    rc = parquet_merge.main(
        ["--incremental", "--small-file-mb=1", "--target-size-mb=1",
         str(tmp_path / "inc_out"), mixed]
    )
    captured = capsys.readouterr().out
    assert rc == 0
    # at sf0.001 everything is <1 MiB so all 10 compact; the manifest
    # line always reports the three action buckets
    assert "kept" in captured and "compacted" in captured and "written" in captured


def test_make_scaled_dir_preserves_referential_integrity(
    spark, sf_dir, tmp_path
):
    """The K-fold replica keeps FK edges valid (every replicated
    lineitem row still joins its replicated order), holds the 25/5
    nation/region dims fixed (TPC-H semantics), and decorrelates the
    document corpus (no cross-replica exact dups)."""
    from tools.make_scaled_dir import FIXED_DIMS, KEY_SHIFTS, replicate

    k = 3
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li_k = replicate(li, "lineitem", k)
    ord_k = replicate(orders, "orders", k)
    assert li_k.count() == k * li.count()
    # every replicated lineitem still finds its order
    dangling = li_k.join(
        ord_k, li_k.l_orderkey == ord_k.o_orderkey, "left_anti"
    ).count()
    assert dangling == 0
    # documents: replicas are not exact duplicates of each other
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    doc_k = replicate(docs, "documents", k)
    n_distinct_texts = doc_k.select("text").distinct().count()
    assert n_distinct_texts > docs.count()  # rotation decorrelated them
    assert FIXED_DIMS == ("region", "nation")
    assert set(KEY_SHIFTS) | set(FIXED_DIMS) == {
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    }


@pytest.mark.parametrize("name", TOOLS)
def test_tool_imports_without_running(name):
    """Every tool imports as a module without running its CLI, so a
    tool that still imports or opens a deleted module or file at
    import time fails here rather than on its next manual run."""
    mod = importlib.import_module(f"tools.{name}")
    assert mod.__name__ == f"tools.{name}"


def test_check_oracle_guards_args():
    import pytest

    from tools.check_oracle import main as co_main, norm_cell

    import sys as _sys

    argv = _sys.argv
    try:
        _sys.argv = ["check_oracle.py", "q_not_a_dir_nor_query"]
        with pytest.raises(SystemExit):
            co_main()
    finally:
        _sys.argv = argv
    # -0.0 must NOT be masked: the round driver hashes '-0.0' != '0.0'
    # (q_column_stats hash-failed in r8 while the masked local gates
    # passed), so the local normalizers must surface sign-of-zero
    # differences and queries must canonicalize them at the source.
    assert norm_cell(-0.0) != norm_cell(0.0)
    assert norm_cell([-0.0, 1.5]) != norm_cell([0.0, 1.5])


def test_driver_sim_dtype_kind_adjudication():
    """The driver stringifies values, so only dtype mixes that change
    str() spelling may FAIL: bool (True/False) vs int (1/0) hashes
    apart — the r13 advisor's silent-miss class — while width-only
    int mixes and datetime unit mixes stay benign."""
    import numpy as np

    from tools.driver_sim import _hashes_apart

    i32, i64 = np.dtype("int32"), np.dtype("int64")
    b, f64, obj = np.dtype("bool"), np.dtype("float64"), np.dtype("O")
    m_ns, m_us = np.dtype("datetime64[ns]"), np.dtype("datetime64[us]")
    assert not _hashes_apart(i32, i64)          # width-only
    assert not _hashes_apart(m_ns, m_us)        # unit-only
    assert not _hashes_apart(b, b)              # b-vs-b benign
    assert _hashes_apart(b, i64)                # True/False vs 1/0
    assert _hashes_apart(i64, b)
    assert _hashes_apart(b, f64)
    assert _hashes_apart(f64, i64)              # 1.0 vs 1
    assert _hashes_apart(obj, i64)
    assert not _hashes_apart(f64, f64)


def test_interval_us_rejects_unknown_units():
    import pytest as _pytest

    from tmp_parquet_merge_spark.streaming.windows import _interval_us

    assert _interval_us("10 minutes") == 600_000_000
    assert _interval_us("2 hours") == 7_200_000_000
    for bad in (
        "10 min",
        "1 day",
        "minutes",
        "ten minutes",
        "-10 minutes",   # negative threshold would count EVERY event late
        "--10 minutes",
        "0 minutes",
    ):
        with _pytest.raises(ValueError, match="unsupported watermark interval"):
            _interval_us(bad)


def _unreferenced_package_defs(repo: Path) -> list[str]:
    """Undecorated top-level ``def``s of the package whose name appears
    as a whole word nowhere in the repo's package, tests, tools or
    perfbench ``.py`` files outside the function's own definition.
    Decorated defs are skipped: ``@query`` builders are reached
    through ``REGISTRY``, not by name."""
    import ast
    import re

    texts = {
        p: p.read_text()
        for d in ("tmp_parquet_merge_spark", "tests", "tools", "perfbench")
        for p in (repo / d).rglob("*.py")
    }
    dead = []
    for path, text in texts.items():
        if not path.is_relative_to(repo / "tmp_parquet_merge_spark"):
            continue
        lines = text.splitlines()
        for node in ast.parse(text).body:
            if not isinstance(node, ast.FunctionDef) or node.decorator_list:
                continue
            word = re.compile(rf"\b{re.escape(node.name)}\b")
            outside = "\n".join(
                lines[: node.lineno - 1] + lines[node.end_lineno:]
            )
            if not word.search(outside) and not any(
                word.search(t) for p, t in texts.items() if p != path
            ):
                dead.append(f"{path.relative_to(repo)}:{node.name}")
    return sorted(dead)


def test_no_unreferenced_package_defs():
    """Dead-code guard: a package helper nobody calls is deleted, not
    kept "for later"."""
    assert _unreferenced_package_defs(Path(__file__).resolve().parents[1]) == []


def test_tools_and_tests_resolve_their_own_checkout():
    """Tools and tests put their own checkout on ``sys.path`` (derived
    from ``__file__``), never a hard-coded one: a tool run from a second
    checkout must check that checkout's package, not another's."""
    import ast

    repo = Path(__file__).resolve().parents[1]
    offenders = []
    for path in sorted([*(repo / "tools").rglob("*.py"), *(repo / "tests").rglob("*.py")]):
        text = path.read_text()
        if str(repo) in text:
            offenders.append(f"{path.relative_to(repo)}: names this checkout's path")
        for node in ast.walk(ast.parse(text)):
            if (
                isinstance(node, ast.Call)
                and ast.unparse(node.func) in ("sys.path.insert", "sys.path.append")
                and any(
                    isinstance(a, ast.Constant) and isinstance(a.value, str)
                    for a in node.args
                )
            ):
                offenders.append(f"{path.relative_to(repo)}:{node.lineno}: {ast.unparse(node)}")
    assert offenders == []
