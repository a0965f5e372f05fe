"""Seeded input generator for the benchmark workloads.

Every table is synthesized from ``numpy.random.default_rng(seed)`` with
the schema and value domains of the engine's TPC-H-ish test tables
(region, nation, customer, supplier, part, orders, lineitem) and of its
LLM-curation corpora (documents, embeddings).  The same seed always
yields byte-identical inputs; the seed also fixes the row order, so
different seeds present different physical layouts of same-sized data.

Each table is written as ONE ``<table>.parquet`` file with a single row
group, the layout the engine's ``registry.t`` loader and a DuckDB
``read_parquet`` view both read directly.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when the generated data changes, so cached inputs are rebuilt.
GEN_VERSION = 3

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
# LLM-curation corpus shape, measured on the engine's bundled sf0.1 test
# corpus (5000 documents, 2000 embeddings): 30-word vocabulary, 10-100
# words per document (uniform, mean 54), language tag independent of
# the text (en 0.41, de/es/fr/zh 0.14-0.15 each), 5.0% near-duplicates
# (a copy of another document plus " dup"), 8 exact-duplicate pairs,
# sources src0..src19 round-robin; 64-d unit embeddings with 10
# uniform labels.
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.42, 0.14, 0.15, 0.145, 0.145]
NEAR_DUP_FRAC = 0.05
EXACT_DUP_PAIRS_PER_DOC = 8 / 5000
# Assumption, not measured: the bundled embeddings are isotropic (mean
# cosine 1.8e-5 within a label, 1.3e-5 across), and on isotropic vectors
# q_ann_lsh's 300-candidate over-fetch misses a true top-10 neighbour on
# about one seed in six at 2000 vectors, failing its exact oracle.  The
# generator plants one centroid per label instead (within-label mean
# cosine ~0.5), on which the over-fetch covered the top 10 on 200 of 200
# simulated seeds.
EMBED_DIM = 64
EMBED_LABELS = 10
EMBED_NOISE = 1.0

EPOCH_1995 = (dt.date(1995, 1, 1) - dt.date(1970, 1, 1)).days
ORDER_DAYS = (dt.date(2001, 8, 1) - dt.date(1995, 1, 1)).days
US_PER_DAY = 86_400_000_000

# Workload input sizes.  "bench" is what the benchmark measures;
# "smoke" is the smallest scale that still exercises every op.
# llm_curation keeps sf0.1's 2000 vectors but 2000 of its 5000
# documents (an assumption): a pass over 5000 takes about a third longer
# (12.6 s against 9.4 s on 4 cores), more than a run's time allows.
SCALES = {
    "bench": {
        "tpch_sql": {"sf": 0.02},
        "llm_curation": {"docs": 2000, "vecs": 2000},
        "parquet_merge": {"sf": 0.02},
    },
    "smoke": {
        "tpch_sql": {"sf": 0.002},
        "llm_curation": {"docs": 300, "vecs": 200},
        "parquet_merge": {"sf": 0.002},
    },
}

WORKLOAD_TABLES = {
    "tpch_sql": (
        "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    ),
    "llm_curation": ("documents", "embeddings"),
    "parquet_merge": ("orders", "lineitem"),
}


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array((days.astype(np.int64) * US_PER_DAY), pa.timestamp("us"))


def _keyed_names(prefix: str, keys: np.ndarray) -> list[str]:
    return [f"{prefix}#{k:09d}" for k in keys.tolist()]


def tpch_tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(20, int(1_500_000 * sf))

    region = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS,
    })
    nk = np.arange(25)
    nation = pa.table({
        "n_nationkey": pa.array(nk, pa.int32()),
        "n_name": [f"NATION_{i}" for i in nk],
        "n_regionkey": pa.array(nk % 5, pa.int32()),
    })
    ck = np.arange(n_cust)
    customer = pa.table({
        "c_custkey": ck,
        "c_name": _keyed_names("Customer", ck),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    sk = np.arange(n_supp)
    supplier = pa.table({
        "s_suppkey": sk,
        "s_name": _keyed_names("Supplier", sk),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part)
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    part = pa.table({
        "p_partkey": pk,
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
            rng.integers(0, 25, n_part)
        ],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })
    ok = np.arange(n_ord)
    odays = rng.integers(0, ORDER_DAYS + 1, n_ord) + EPOCH_1995
    orders = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(odays),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    lines = rng.integers(1, 8, n_ord)
    l_ok = np.repeat(ok, lines)
    n_li = len(l_ok)
    starts = np.cumsum(lines) - lines
    linenumber = np.arange(n_li) - np.repeat(starts, lines) + 1
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    l_part = rng.integers(0, n_part, n_li)
    lineitem = pa.table({
        "l_orderkey": l_ok,
        "l_partkey": l_part,
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * (900.0 + (l_part % 1000) / 10.0), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(np.repeat(odays, lines) + rng.integers(1, 122, n_li)),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem,
    }


def documents_table(rng: np.random.Generator, n_docs: int) -> pa.Table:
    """Random-word documents with planted near-duplicates (a copy with
    one appended token, Jaccard far above the 0.5 LSH knee) and exact
    duplicates, at the measured rates above."""
    vocab = np.array(VOCAB)
    lens = rng.integers(10, 101, n_docs)
    toks = vocab[rng.integers(0, len(vocab), int(lens.sum()))]
    langs = np.array(LANGS)[rng.choice(len(LANGS), n_docs, p=LANG_P)]
    texts, pos = [], 0
    for n in lens.tolist():
        texts.append(" ".join(toks[pos : pos + n].tolist()))
        pos += n
    # Assumption: fixed counts and no copy-of-a-copy chains (the bundled
    # corpus has 4 such chains), so every seed gives the dedup and
    # clustering ops the same amount of work.
    perm = rng.permutation(n_docs)
    n_near = round(n_docs * NEAR_DUP_FRAC)
    n_exact = max(1, round(n_docs * EXACT_DUP_PAIRS_PER_DOC))
    copies = perm[: n_near + n_exact].tolist()
    sources = perm[n_near + n_exact : 2 * (n_near + n_exact)].tolist()
    for k, (i, j) in enumerate(zip(copies, sources)):
        texts[i] = texts[j] if k < n_exact else texts[j] + " dup"
    return pa.table({
        "doc_id": np.arange(n_docs),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], np.int64),
    })


def embeddings_table(rng: np.random.Generator, n_vecs: int) -> pa.Table:
    """Unit vectors around one centroid per label (see EMBED_NOISE)."""
    labels = rng.integers(0, EMBED_LABELS, n_vecs)
    cent = rng.standard_normal((EMBED_LABELS, EMBED_DIM))
    vecs = cent[labels] + EMBED_NOISE * rng.standard_normal((n_vecs, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n_vecs * EMBED_DIM + 1, EMBED_DIM), pa.int32()),
        pa.array(vecs.ravel(), pa.float32()),
    )
    return pa.table({
        "vec_id": np.arange(n_vecs),
        "embedding": emb,
        "label": pa.array(labels, pa.int32()),
    })


def _shuffled(rng: np.random.Generator, table: pa.Table) -> pa.Table:
    return table.take(pa.array(rng.permutation(table.num_rows)))


def generate(workload: str, seed: int, scale: str, out_dir: str) -> dict:
    """Write the workload's tables under ``out_dir`` and return the
    manifest (row counts, bytes, input MB).  Cached: an existing
    complete manifest for the same version/scale is returned as is."""
    manifest_path = os.path.join(out_dir, "manifest.json")
    params = SCALES[scale][workload]
    key = {"version": GEN_VERSION, "workload": workload, "seed": seed,
           "scale": scale, "params": params}
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            man = json.load(f)
        if man.get("key") == key:
            return man
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    rng = np.random.default_rng([seed, GEN_VERSION])
    if workload == "llm_curation":
        tables = {
            "documents": documents_table(rng, params["docs"]),
            "embeddings": embeddings_table(rng, params["vecs"]),
        }
    else:
        tables = tpch_tables(rng, params["sf"])
    rows, nbytes = {}, {}
    for name in WORKLOAD_TABLES[workload]:
        tab = _shuffled(rng, tables[name])
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tab, path, compression="snappy", row_group_size=1 << 30)
        rows[name] = tab.num_rows
        nbytes[name] = os.path.getsize(path)
    man = {
        "key": key,
        "rows": rows,
        "bytes": nbytes,
        "input_mb": sum(nbytes.values()) / 1e6,
    }
    with open(manifest_path, "w") as f:
        json.dump(man, f, sort_keys=True)
    return man
