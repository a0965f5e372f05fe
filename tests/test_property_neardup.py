"""Near-threshold MinHash-LSH property test: a seeded numpy corpus of
document pairs whose 3-shingle Jaccard spreads over [0.3, 0.7], i.e.
straddling the 16-band × 4-row S-curve's 0.5 threshold where LSH recall
is below 1 (the bundled corpora and the benchmark corpus plant no pairs
there, so their pair precision and recall are trivially 1.0).

Checks the LSH operators against their exact twin
(``ngram_jaccard_pairs``) and a pure-Python Jaccard: LSH output is a
subset of the exact answer with bit-identical scores, the novelty gate
drops only docs that have a true near-duplicate, and recall over pairs
at J ≥ 0.5 clears the S-curve floor 1 − (1 − J⁴)¹⁶ ≥ 0.644 on
[0.5, 0.7] with margin.  Measured recall and precision are printed.
"""

import numpy as np

from tmp_parquet_merge_spark.operators.dedup import (
    minhash_dedup_pairs,
    ngram_jaccard_pairs,
    novelty_neardup,
)

_SEED = 20240601
_N_PAIRS = 500
_VOCAB = 1_000_000  # word ids; 3-shingles never collide across pairs


def _near_threshold_pairs(seed: int = _SEED, n_pairs: int = _N_PAIRS):
    """``n_pairs`` (a, b) word lists: b keeps a's first k words and
    replaces the rest with fresh ones, k chosen so the pair's 3-shingle
    Jaccard lands near a target drawn uniformly from [0.3, 0.7]
    (shared s = k - 2 of n = L - 2 shingles each side gives
    J = s / (2n - s))."""
    rng = np.random.default_rng(seed)
    pairs = []
    for _ in range(n_pairs):
        length = int(rng.integers(40, 81))
        target = rng.uniform(0.3, 0.7)
        n = length - 2
        k = int(round(2 * n * target / (1 + target))) + 2
        a = [f"w{x}" for x in rng.integers(0, _VOCAB, length)]
        fresh = [f"w{x}" for x in rng.integers(0, _VOCAB, length - k)]
        pairs.append((a, a[:k] + fresh))
    return pairs


def _shingles(words: list[str]) -> set[str]:
    return {" ".join(words[i:i + 3]) for i in range(len(words) - 2)}


def _jaccard(x: set, y: set) -> float:
    return len(x & y) / len(x | y)


def test_minhash_near_threshold_corpus(spark):
    pairs = _near_threshold_pairs()
    docs = spark.createDataFrame(
        [
            (2 * i + side, " ".join(words))
            for i, pair in enumerate(pairs)
            for side, words in enumerate(pair)
        ],
        "doc_id long, text string",
    )
    true_j = [_jaccard(_shingles(a), _shingles(b)) for a, b in pairs]
    assert min(true_j) < 0.35 and max(true_j) > 0.65, "J must span [0.3, 0.7]"
    assert sum(j >= 0.5 for j in true_j) >= 200

    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, "text", "doc_id").collect()
    }
    # the exact twin finds exactly the planted pairs at J >= 0.5
    assert set(exact) == {
        (2 * i, 2 * i + 1) for i, j in enumerate(true_j) if round(j, 6) >= 0.5
    }
    lsh = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in minhash_dedup_pairs(docs, "text", "doc_id").collect()
    }
    # every LSH row is an exact row with the bit-identical rounded score
    for pair, jac in lsh.items():
        assert pair in exact and exact[pair] == jac, (pair, jac)
    recall = len(lsh.keys() & exact.keys()) / len(exact)
    precision = len(lsh.keys() & exact.keys()) / max(len(lsh), 1)
    print(
        f"near-threshold minhash: recall={recall:.3f} "
        f"precision={precision:.3f} ({len(lsh)}/{len(exact)} pairs)"
    )
    assert recall >= 0.6

    # novelty: new batch = the b sides, existing corpus = the a sides
    new = docs.filter("doc_id % 2 = 1")
    old = docs.filter("doc_id % 2 = 0")
    novel = {
        r.doc_id
        for r in novelty_neardup(new, old, "text", "doc_id").collect()
    }
    dropped = {2 * i + 1 for i in range(len(pairs))} - novel
    old_sets = [_shingles(a) for a, _ in pairs]
    by_shingle = {}
    for i, s in enumerate(old_sets):
        for g in s:
            by_shingle.setdefault(g, set()).add(i)
    for doc in dropped:
        b = _shingles(pairs[doc // 2][1])
        partners = set().union(*(by_shingle.get(g, set()) for g in b))
        assert any(
            round(_jaccard(b, old_sets[i]), 6) >= 0.5 for i in partners
        ), f"novelty dropped {doc} without a J >= 0.5 partner"
    print(
        f"near-threshold novelty: dropped {len(dropped)} of "
        f"{sum(round(j, 6) >= 0.5 for j in true_j)} true near-dups"
    )
