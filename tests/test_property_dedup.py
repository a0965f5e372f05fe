"""Property-based test (hypothesis) for the connected-components
operator (operators/dedup.py::dedup_clusters) against a union-find
reference on random graphs — pinning both of its paths (the driver
finish and distributed min-label propagation) on shapes the bundled
corpora never produce (long chains, isolated nodes, dense blobs,
self-loop-free multigraphs), plus the id edge cases both paths must
agree on.
"""

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tmp_parquet_merge_spark.operators.dedup import dedup_clusters

_N = 12  # node ids 0.._N-1
_EDGES = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=_N - 1),
        st.integers(min_value=0, max_value=_N - 1),
    ),
    min_size=0,
    max_size=18,
)


def _union_find_reference(edges):
    parent = list(range(_N))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp = {}
    for n in range(_N):
        comp.setdefault(find(n), []).append(n)
    return {n: min(members) for members in comp.values() for n in members}


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=_EDGES)
def test_dedup_clusters_matches_union_find(spark, on_cluster_path, edges):
    # drop self-loops: the pair generators never emit (x, x)
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(
        [(a, b) for a, b in edges] or [(0, 0)], "doc_a long, doc_b long"
    )
    if not edges:
        pairs = pairs.filter("doc_a <> doc_b")  # empty edge set
    nodes = spark.createDataFrame(
        [(n,) for n in range(_N)], "doc_id long"
    )
    want = _union_find_reference(edges)
    for path in ("driver", "distributed"):
        with on_cluster_path(path):
            got = {
                r.doc_id: r.cluster_id
                for r in dedup_clusters(pairs, nodes, "doc_id").collect()
            }
        assert got == want, path


def _clusters(spark, pairs, nodes, ddl):
    p = spark.createDataFrame(pairs, f"doc_a {ddl}, doc_b {ddl}")
    n = spark.createDataFrame([(x,) for x in nodes], f"doc_id {ddl}")
    out = dedup_clusters(p, n, "doc_id")
    assert out.schema["cluster_id"].dataType == n.schema["doc_id"].dataType
    rows = out.collect()
    assert len(rows) == len(nodes)
    return {r.doc_id: r.cluster_id for r in rows}


def test_dedup_clusters_string_ids_utf8_order(spark, cluster_path):
    """The label is the component minimum in UTF-8 byte order, as
    Spark's ``min`` compares strings.  U+FF21 sorts before U+1D11E in
    UTF-8 (and code point) order but after it in UTF-16 order."""
    got = _clusters(
        spark,
        [("\U0001d11e", "\uff21"), ("z", "é"), ("é", "日本"), ("ä", "b")],
        ["\U0001d11e", "\uff21", "z", "é", "日本", "ä", "b", "Zed"],
        "string",
    )
    assert got == {
        "\U0001d11e": "\uff21",
        "\uff21": "\uff21",
        "z": "z",
        "é": "z",
        "日本": "z",
        "ä": "b",
        "b": "b",
        "Zed": "Zed",
    }


def test_dedup_clusters_null_and_absent_ids(spark, cluster_path):
    """NULL-endpoint edges are ignored and a NULL node keeps a NULL
    cluster_id.  Endpoints absent from ``nodes`` (99, 0) are inert:
    not output, and no bridge — 1 and 2 stay apart through 99, and 5
    does not take the absent 0 as its label."""
    got = _clusters(
        spark,
        [(1, 99), (99, 2), (5, 0), (3, None), (None, 4), (6, 7), (7, 3)],
        [1, 2, 3, 4, 5, 6, 7, None],
        "long",
    )
    assert got == {1: 1, 2: 2, 3: 3, 4: 4, 5: 5, 6: 3, 7: 3, None: None}


def test_dedup_clusters_empty_edge_set(spark, cluster_path):
    got = _clusters(spark, [], ["b", "a", None], "string")
    assert got == {"a": "a", "b": "b", None: None}


_DOC_WORDS = st.lists(
    st.sampled_from("alpha beta gamma delta epsilon zeta eta theta".split()),
    min_size=4,
    max_size=10,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(words=_DOC_WORDS, n_copies=st.integers(min_value=2, max_value=4))
def test_minhash_always_catches_exact_duplicates(spark, words, n_copies):
    """Deterministic MinHash guarantee: identical documents have
    identical signatures, hence identical band keys — exact copies can
    NEVER be missed by LSH, at any banding.  (Near-dup recall is
    probabilistic; exact-dup recall is not.)"""
    from tmp_parquet_merge_spark.operators.dedup import minhash_dedup_pairs

    text = " ".join(words)
    rows = [(i, text) for i in range(n_copies)]
    # distinct decoys that share no shingle vocabulary with the copies
    rows += [
        (100 + j, " ".join(f"decoy{j}word{k}" for k in range(6)))
        for j in range(2)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r.doc_a, r.doc_b)
        for r in minhash_dedup_pairs(
            df, "text", "doc_id", verify_threshold=0.5
        ).collect()
    }
    expected = {
        (a, b)
        for a in range(n_copies)
        for b in range(n_copies)
        if a < b
    }
    assert expected <= pairs
    # and no copy↔decoy pair survives the Jaccard verify
    assert all(a < 100 and b < 100 for a, b in pairs)
