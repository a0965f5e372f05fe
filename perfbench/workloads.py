"""Benchmark workloads: the ops of one pass, and their correctness checks.

Every op goes through the engine's public surface (``REGISTRY`` query
builders, ``sources.parquet_io`` functions) and wraps each call into a
layer in a tracer span.  ``run`` does the op's work and consumes its
result; ``check`` runs after the pass, outside the timed region, and
returns an error string or ``None``.
"""

from __future__ import annotations

import glob
import math
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from tmp_parquet_merge_spark.operators import dedup
from tmp_parquet_merge_spark.queries import REGISTRY
from tmp_parquet_merge_spark.sources import parquet_io

LLM_OPS = (
    "q_dedup_exact",
    "q_dedup_minhash",
    "q_dedup_cluster_lsh",
    "q_quality_score",
    "q_lang_id",
    "q_tfidf",
    "q_ann_lsh",
)
TPCH_OPS = tuple(f"q_sql_tpch_q{i}" for i in range(1, 23))
MERGE_OPS = (
    "scatter_lineitem",
    "scatter_orders",
    "merge_lineitem",
    "merge_orders",
    "metadata_stats",
    "column_stats",
    "scan_lineitem",
    "read_row_group",
)
# Which parquet_io public function each parquet_merge op calls.
MERGE_IO_FN = {
    "scatter_lineitem": "write_parquet",
    "scatter_orders": "write_parquet",
    "merge_lineitem": "merge_files",
    "merge_orders": "merge_files",
    "metadata_stats": "metadata_stats",
    "column_stats": "column_stats",
    "scan_lineitem": "scan",
    "read_row_group": "read_row_group",
}


# Same normalization as tools/check_oracle.py norm_cell/norm_rows, kept
# here so the benchmark's verdicts do not move when that tool changes.
def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        s = f"{v:.10g}"
        if "." not in s and "e" not in s and "inf" not in s:
            s += ".0"
        return s
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    return str(v)


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)


class Context:
    """What an op needs: the live session, the generated inputs, a
    scratch output directory and the tracer."""

    def __init__(self, spark, data_dir: str, out_dir: str, tracer):
        self.spark = spark
        self.data_dir = data_dir
        self.out_dir = out_dir
        self.tracer = tracer


class RegistryWorkload:
    """Registered queries, each checked against its DuckDB oracle SQL
    (row count plus a non-empty result for a query without one).
    ``ordered=False`` runs the ops in a seeded order each pass."""

    def __init__(self, ops: tuple[str, ...], data_dir: str, tables: tuple[str, ...],
                 ordered: bool):
        self.ops = ops
        self.ordered = ordered
        self.data_dir = data_dir
        self.tables = tables
        self.expected: dict[str, tuple[list[str], list[tuple]] | None] = {}

    def prepare(self) -> None:
        con = duckdb.connect()
        try:
            for name in self.tables:
                path = os.path.join(self.data_dir, f"{name}.parquet")
                con.execute(
                    f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
                )
            for op in self.ops:
                sql = REGISTRY[op].oracle
                if sql is None:
                    self.expected[op] = None
                    continue
                res = con.execute(sql)
                cols = [d[0] for d in res.description]
                self.expected[op] = (sorted(cols), norm_rows(cols, res.fetchall()))
        finally:
            con.close()

    def run(self, ctx: Context, op: str):
        tr = ctx.tracer
        with tr.span("registry.build"):
            df = REGISTRY[op].build(ctx.spark, self.data_dir)
        with tr.span("exec.collect"):
            rows = [tuple(r) for r in df.collect()]
        return df.columns, rows

    def check(self, ctx: Context, op: str, result) -> str | None:
        cols, rows = result
        exp = self.expected[op]
        if exp is None:
            return None if rows else "rows-only query returned no rows"
        ecols, erows = exp
        if sorted(cols) != ecols:
            return f"columns {sorted(cols)} != oracle {ecols}"
        if len(rows) != len(erows):
            return f"{len(rows)} rows != oracle {len(erows)}"
        if norm_rows(cols, rows) != erows:
            return "values differ from the oracle"
        return None

    def verified_pairs(self, result_by_op: dict) -> int:
        res = result_by_op.get("q_dedup_minhash")
        return len(res[1]) if res else 0

    def candidate_pairs(self, ctx: Context) -> int:
        """Unverified MinHash-LSH candidate pairs, with the banding
        q_dedup_minhash uses; run untimed, in the traced run only."""
        docs = ctx.spark.read.parquet(os.path.join(self.data_dir, "documents.parquet"))
        return dedup.minhash_dedup_pairs(
            docs, "text", "doc_id", num_perm=64, bands=16, verify_threshold=None
        ).count()


def _content_hash(df: pd.DataFrame) -> int:
    """Order-independent hash of a table: the wrapping uint64 sum of
    per-row hashes over name-sorted columns, with timestamps as int64
    microseconds and integers widened, so Spark- and pyarrow-written
    copies of the same rows hash equal."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype("int64")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return int(pd.util.hash_pandas_object(df, index=False).to_numpy().sum())


def _parquet_files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def _read_dir(path: str) -> pd.DataFrame:
    return pq.ParquetDataset(_parquet_files(path)).read().to_pandas()


# Scatter layout: (slice parity, row-group budget, max rows per file).
# Mixed row-group budgets so the merge reads files of unlike layout.
SCATTER = {
    "lineitem": ("l_orderkey", ((0, 256 << 10, 10_000), (1, 1 << 20, 25_000))),
    "orders": ("o_orderkey", ((0, 128 << 10, 5_000), (1, 512 << 10, 12_500))),
}
SCAN_COLS = ["l_orderkey", "l_quantity", "l_extendedprice"]


class MergeWorkload:
    """The paper's small-files lifecycle through ``sources.parquet_io``:
    scatter, compact, footer sweep, projected scan, row-group read."""

    ordered = True  # each step reads what the previous one wrote
    ops = MERGE_OPS
    io_fn = MERGE_IO_FN

    def __init__(self, data_dir: str):
        self.data_dir = data_dir
        self.expected: dict = {}

    def prepare(self) -> None:
        for table, (key, slices) in SCATTER.items():
            df = pq.read_table(os.path.join(self.data_dir, f"{table}.parquet")).to_pandas()
            self.expected[table] = {
                "rows": len(df),
                "hash": _content_hash(df),
                "slice_rows": [int((df[key] % 2 == p).sum()) for p, _, _ in slices],
            }
            if table == "lineitem":
                sel = df[df["l_quantity"] < 10]
                self.expected["scan"] = (
                    len(sel), int(sel["l_orderkey"].sum()), float(sel["l_quantity"].sum())
                )

    def _slice_dir(self, ctx: Context, table: str, parity: int) -> str:
        return os.path.join(ctx.out_dir, f"scatter_{table}_{parity}")

    def _merged_dir(self, ctx: Context, table: str) -> str:
        return os.path.join(ctx.out_dir, f"merged_{table}")

    def written_dirs(self, ctx: Context) -> list[str]:
        return [
            *(self._slice_dir(ctx, t, p) for t, (_, s) in SCATTER.items() for p, _, _ in s),
            *(self._merged_dir(ctx, t) for t in SCATTER),
        ]

    def run(self, ctx: Context, op: str):
        tr, spark = ctx.tracer, ctx.spark
        kind, _, table = op.partition("_")
        if kind == "scatter":
            key, slices = SCATTER[table]
            src = os.path.join(self.data_dir, f"{table}.parquet")
            with tr.span("io.write_parquet"):
                for parity, block, max_rows in slices:
                    df = parquet_io.read_parquet(spark, src).filter(F.col(key) % 2 == parity)
                    parquet_io.write_parquet(
                        df,
                        self._slice_dir(ctx, table, parity),
                        block_size_bytes=block,
                        max_records_per_file=max_rows,
                    )
            return None
        if kind == "merge":
            inputs = [self._slice_dir(ctx, table, p) for p, _, _ in SCATTER[table][1]]
            with tr.span("io.merge_files"):
                parquet_io.merge_files(spark, inputs, self._merged_dir(ctx, table))
            return None
        if op in ("metadata_stats", "column_stats"):
            fn = getattr(parquet_io, op)
            dirs = self.written_dirs(ctx) if op == "metadata_stats" else [
                self._merged_dir(ctx, t) for t in SCATTER
            ]
            with tr.span(f"io.{op}"):
                df = fn(spark, *dirs)
            with tr.span("exec.collect"):
                return [r.asDict() for r in df.collect()]
        if op == "scan_lineitem":
            with tr.span("io.read_parquet"):
                df = parquet_io.read_parquet(
                    spark, self._merged_dir(ctx, "lineitem"), columns=SCAN_COLS
                ).filter(F.col("l_quantity") < 10)
            with tr.span("exec.collect"):
                r = df.agg(
                    F.count(F.lit(1)), F.sum("l_orderkey"), F.sum("l_quantity")
                ).collect()[0]
            return (r[0], int(r[1] or 0), float(r[2] or 0.0))
        if op == "read_row_group":
            with tr.span("io.read_row_group"):
                df = parquet_io.read_row_group(
                    spark, self._merged_dir(ctx, "lineitem"), 0, columns=SCAN_COLS
                )
            with tr.span("exec.collect"):
                r = df.agg(F.count(F.lit(1)), F.sum("l_orderkey")).collect()[0]
            return (r[0], int(r[1] or 0))
        raise ValueError(f"unknown parquet_merge op {op!r}")

    def check(self, ctx: Context, op: str, result) -> str | None:
        kind, _, table = op.partition("_")
        if kind == "scatter":
            exp = self.expected[table]["slice_rows"]
            got = [
                sum(pq.ParquetFile(f).metadata.num_rows for f in _parquet_files(d))
                for d in (self._slice_dir(ctx, table, p) for p, _, _ in SCATTER[table][1])
            ]
            return None if got == exp else f"scattered footer rows {got} != {exp}"
        if kind == "merge":
            exp = self.expected[table]
            df = _read_dir(self._merged_dir(ctx, table))
            if len(df) != exp["rows"]:
                return f"merged {len(df)} rows != input {exp['rows']}"
            if _content_hash(df) != exp["hash"]:
                return "merged content hash differs from the input's"
            return None
        if op == "metadata_stats":
            want = {}
            for t in SCATTER:
                want[self._merged_dir(ctx, t)] = self.expected[t]["rows"]
                for p, n in zip((0, 1), self.expected[t]["slice_rows"]):
                    want[self._slice_dir(ctx, t, p)] = n
            got = dict.fromkeys(want, 0)
            for r in result:
                d = os.path.dirname(r["file"].removeprefix("file:"))
                got[d] = got.get(d, 0) + r["num_rows"]
            return None if got == want else f"footer row sums {got} != {want}"
        if op == "column_stats":
            for t in SCATTER:
                d = self._merged_dir(ctx, t)
                per_col: dict[str, int] = {}
                for r in result:
                    if os.path.dirname(r["file"].removeprefix("file:")) == d:
                        per_col[r["column"]] = per_col.get(r["column"], 0) + r["num_values"]
                if not per_col or set(per_col.values()) != {self.expected[t]["rows"]}:
                    return f"column chunk value counts {per_col} for {t}"
            return None
        if op == "scan_lineitem":
            exp = self.expected["scan"]
            return None if result == exp else f"scan {result} != {exp}"
        if op == "read_row_group":
            first = _parquet_files(self._merged_dir(ctx, "lineitem"))[0]
            tab = pq.ParquetFile(first).read_row_group(0, columns=["l_orderkey"])
            exp = (tab.num_rows, int(np.asarray(tab["l_orderkey"]).sum()))
            return None if result == exp else f"row group {result} != {exp}"
        raise ValueError(f"unknown parquet_merge op {op!r}")

    def parquet_bytes_written(self, ctx: Context) -> int:
        return sum(
            os.path.getsize(f) for d in self.written_dirs(ctx) for f in _parquet_files(d)
        )

    def files_written(self, ctx: Context) -> int:
        return sum(len(_parquet_files(d)) for d in self.written_dirs(ctx))


def make(workload: str, data_dir: str, tables: tuple[str, ...]):
    if workload == "llm_curation":
        return RegistryWorkload(LLM_OPS, data_dir, tables, ordered=True)
    if workload == "tpch_sql":
        return RegistryWorkload(TPCH_OPS, data_dir, tables, ordered=False)
    if workload == "parquet_merge":
        return MergeWorkload(data_dir)
    raise ValueError(f"unknown workload {workload!r}")
